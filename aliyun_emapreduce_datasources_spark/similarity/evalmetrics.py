"""Model-evaluation metrics over the embedding table — the missing
fourth leg of a training-data pipeline (curate → dedup → mix →
**evaluate**): exact AUC, per-class precision/recall/F1, top-k
accuracy, and retrieval MRR@k, all computed distributed and all
bit-exact against the DuckDB oracle.

Why a "model" with no model: the scorer is a fixed deterministic
linear probe (integer coefficients derived from a hash mix, applied to
the micro-quantized embedding of similarity/intdot.py). The *metric
arithmetic* is the operator under test; the probe just has to be
reproducible in both engines, exactly, which
integer dots guarantee (|q| ≤ ~5·10⁵, |coef| ≤ 3, dim 64 ⇒
|score| ≤ ~1.1·10⁸ ≪ 2⁵³ — exact in int64 AND in double, so DuckDB's
list_inner_product agrees byte-for-byte).

Determinism recipe (the repo convention): every count/rank/sum stays
int64 end to end; each metric performs exactly ONE float division at
the very end (IEEE division of two exactly-representable integers is
itself exact), so rtol=0 comparison holds.

Scale shapes:
- AUC: the classic O(n log n) rank-sum form, but computed as
  (group-by score → ordered prefix sum over DISTINCT scores) — the
  shuffle is one hash agg; the window runs over |distinct scores|
  rows (bounded by the score range, not n). At 100 TB the prefix sum
  runs over a range-partitioned sort of the tiny per-score table.
- PRF / top-k accuracy: embeddings × 10 classes via a broadcast
  cross join (no shuffle of the big side), argmax by per-vector
  window — partitioned by vec_id, so it scales out.
- MRR@k: the label-noise audit's exact kNN (label_noise.exact_knn_topk,
  an ``intdot.block_cogroup`` over all B² block pairs); the shuffle
  carries n·B·k candidate rows, never n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import local_df
from aliyun_emapreduce_datasources_spark.similarity import guard
from aliyun_emapreduce_datasources_spark.similarity.intdot import block_cogroup, quantized
from aliyun_emapreduce_datasources_spark.similarity.label_noise import exact_knn_topk

__all__ = [
    "eval_auc_binary",
    "eval_class_prf",
    "eval_mrr_at_k",
    "eval_topk_accuracy",
    "QUERIES",
    "ORACLES",
]

DIM = 64
N_CLASSES = 10
MRR_K = 10
# lcm(1..10): every reciprocal rank 1/r scales to an exact integer
RR_SCALE = 2520

_MIX = 2654435761  # Knuth multiplicative-hash constant — public lore


def _coef_binary() -> list[int]:
    """Deterministic probe weights in [-3, 3]."""
    return [((i * _MIX) % 7) - 3 for i in range(DIM)]


def _coef_class(cls: int) -> list[int]:
    """Deterministic per-class probe weights in [-5, 5].

    Modulus 11, NOT 7 (round-9 review finding): with ``% 7`` the
    class offset ``cls * DIM`` collapses — ``DIM = 64 ≡ 1 (mod 7)``,
    so ``_coef_class`` was 7-periodic in ``cls``; classes 7–9 were
    coefficient-identical to 0–2 and (with the score-desc, cls-asc
    tie-break) unreachable as an argmax, silently degenerating the
    10-class metrics to 7 distinct scorers. Under mod 11 the phase
    ``cls·64 ≡ cls·9 (mod 11)`` is injective over cls = 0..9 (9 is
    invertible mod 11), so all N_CLASSES probe vectors are pairwise
    distinct — pinned in tests/test_evalmetrics.py. Any phase-shift
    scheme like this one caps the distinct-vector count at the
    modulus; the guard below turns a future N_CLASSES bump into a
    loud failure instead of a silent re-collision."""
    if N_CLASSES > 11:
        raise ValueError("_coef_class: mod-11 phases support ≤ 11 classes")
    return [(((cls * DIM + i) * _MIX) % 11) - 5 for i in range(DIM)]


def _dot(qe_col, coef: list[int]):
    """Exact integer dot of the quantized embedding with literal
    coefficients, entirely in JVM expressions (zip_with + aggregate —
    no UDF)."""
    arr = F.array(*[F.lit(c).cast("long") for c in coef])
    return F.aggregate(
        F.zip_with(qe_col, arr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sql_list(coef: list[int]) -> str:
    return "[" + ", ".join(str(c) for c in coef) + "]::BIGINT[]"


# --- binary AUC ---------------------------------------------------------

def eval_auc_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the linear probe against the binary target
    label >= 5, via the rank-sum identity with full tie handling:

        AUC = [ #(s_pos > s_neg) + ½·#(s_pos = s_neg) ] / (n_pos·n_neg)

    computed as one hash-agg per distinct score then an ordered prefix
    sum: num2 = Σ_s np_s·(2·cum_nn_below(s) + nn_s) (doubled to stay
    integral), AUC = num2 / (2·n_pos·n_neg). Single float division at
    the end — bit-exact vs the oracle.

    The prefix sum is RANGE-PARTITIONED (round-7 swap of the global
    single-partition window): scores bucket by their high bits
    (``s >> 20`` — arithmetic shift, monotone for negatives), a
    grid-sized pass computes each bucket's negative-count offset
    (|buckets| ≈ score-range/2²⁰ ≈ 210 rows — the only unpartitioned
    window), and the within-bucket prefix runs partitioned by bucket.
    cum_nn = bucket offset + in-bucket prefix, identical term by term
    to the global walk — no task ever sorts more than one bucket of
    the per-score table."""
    scored = quantized(spark, sf_dir).select(
        _dot(F.col("qe"), _coef_binary()).alias("s"),
        F.when(F.col("label") >= 5, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nn"),
    ).withColumn("rb", F.shiftright("s", 20))
    btot = per_score.groupBy("rb").agg(F.sum("nn").alias("nn_b"))
    w_b = Window.orderBy("rb").rowsBetween(Window.unboundedPreceding, -1)
    boffs = btot.withColumn(
        "nn_before", F.coalesce(F.sum("nn_b").over(w_b), F.lit(0))
    ).select("rb", "nn_before")
    w_in = Window.partitionBy("rb").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    with_cum = per_score.join(F.broadcast(boffs), "rb").withColumn(
        "cum_nn",
        (
            F.col("nn_before") + F.coalesce(F.sum("nn").over(w_in), F.lit(0))
        ).cast("long"),
    )
    agg = with_cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (F.lit(2) * F.col("cum_nn") + F.col("nn")))
        .cast("long")
        .alias("auc_num2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("auc_num2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
        )
        .otherwise(F.lit(0.0))
        .alias("auc"),
    )


def _oracle_auc() -> str:
    return f"""
WITH q AS (
  SELECT label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
  FROM embeddings
), scored AS (
  SELECT CAST(list_inner_product(qe, {_sql_list(_coef_binary())}) AS BIGINT) AS s,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM q
), g AS (
  SELECT s, CAST(SUM(y) AS BIGINT) AS np,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
  FROM scored GROUP BY s
), c AS (
  SELECT *,
         COALESCE(CAST(SUM(nn) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS cum_nn
  FROM g
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(SUM(np * (2 * cum_nn + nn)) AS BIGINT) AS auc_num2,
       CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
            THEN CAST(SUM(np * (2 * cum_nn + nn)) AS DOUBLE)
                 / (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS BIGINT))
            ELSE 0.0 END AS auc
FROM c
"""


# --- multiclass argmax probe: shared scored/pred builders ---------------

def _class_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, cls, score, rn): per-class probe scores with the
    per-vector rank (score desc, cls asc tie-break → rn=1 is argmax)."""
    classes = local_df(
        spark,
        [(c, _coef_class(c)) for c in range(N_CLASSES)],
        "cls int, coef array<long>",
    )
    scored = quantized(spark, sf_dir).crossJoin(F.broadcast(classes)).select(
        "vec_id",
        "label",
        "cls",
        F.aggregate(
            F.zip_with("qe", "coef", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("cls"))
    return scored.withColumn("rn", F.row_number().over(w))


def _oracle_class_scores() -> str:
    values = ",\n         ".join(
        f"({c}, {_sql_list(_coef_class(c))})" for c in range(N_CLASSES)
    )
    return f"""
q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
  FROM embeddings
), cls AS (
  SELECT * FROM (VALUES {values}) AS t(cls, coef)
), scored AS (
  SELECT q.vec_id, q.label, cls.cls,
         CAST(list_inner_product(q.qe, cls.coef) AS BIGINT) AS score
  FROM q, cls
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cls) AS rn
  FROM scored
)"""


def eval_class_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion accounting of the argmax probe: tp / fp /
    fn as exact counts plus precision / recall / F1 (one guarded float
    division each).

    Single-pass shape: each prediction row explodes into a truth-side
    contribution (n_true, tp) and a prediction-side one (n_pred), so
    BOTH margins of the confusion matrix come out of ONE scan + ONE
    hash agg — no self-join diamond recomputing the probe subtree per
    margin (the naive by_true ⋈ by_pred form scans embeddings twice
    and joins two 10-row tables with a shuffle)."""
    pred = (
        _class_scores(spark, sf_dir)
        .where(F.col("rn") == 1)
        .select("vec_id", "label", F.col("cls").alias("pred"))
    )
    contrib = pred.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("label").cast("int").alias("class_id"),
                    F.lit(1).alias("n_true_part"),
                    F.when(F.col("pred") == F.col("label"), 1)
                    .otherwise(0)
                    .alias("tp_part"),
                    F.lit(0).alias("n_pred_part"),
                ),
                F.struct(
                    F.col("pred").cast("int").alias("class_id"),
                    F.lit(0).alias("n_true_part"),
                    F.lit(0).alias("tp_part"),
                    F.lit(1).alias("n_pred_part"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    joined = (
        contrib.groupBy("class_id")
        .agg(
            F.sum("n_true_part").cast("long").alias("n_true"),
            F.sum("tp_part").cast("long").alias("tp"),
            F.sum("n_pred_part").cast("long").alias("n_pred"),
        )
        .where(F.col("n_true") > 0)  # margins: report label-present classes
        .select(
            "class_id",
            "n_true",
            "tp",
            (F.col("n_pred") - F.col("tp")).cast("long").alias("fp"),
            (F.col("n_true") - F.col("tp")).cast("long").alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    ).otherwise(F.lit(0.0))
    rec = F.col("tp").cast("double") / F.col("n_true")
    f1 = F.when(
        F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        (F.lit(2) * F.col("tp")).cast("double")
        / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "class_id",
        "n_true",
        "tp",
        "fp",
        "fn",
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    ).orderBy("class_id")


def _oracle_prf() -> str:
    return f"""
WITH {_oracle_class_scores()},
pred AS (
  SELECT vec_id, label, cls AS pred FROM ranked WHERE rn = 1
), by_true AS (
  SELECT label AS class_id,
         CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM pred GROUP BY label
), by_pred AS (
  SELECT pred AS class_id, CAST(COUNT(*) AS BIGINT) AS n_pred
  FROM pred GROUP BY pred
)
SELECT t.class_id,
       t.n_true,
       t.tp,
       CAST(COALESCE(p.n_pred, 0) - t.tp AS BIGINT) AS fp,
       CAST(t.n_true - t.tp AS BIGINT) AS fn,
       CASE WHEN COALESCE(p.n_pred, 0) > 0
            THEN CAST(t.tp AS DOUBLE) / COALESCE(p.n_pred, 0)
            ELSE 0.0 END AS precision,
       CAST(t.tp AS DOUBLE) / t.n_true AS recall,
       CASE WHEN COALESCE(p.n_pred, 0) + t.n_true > 0
            THEN CAST(2 * t.tp AS DOUBLE)
                 / (COALESCE(p.n_pred, 0) + t.n_true)
            ELSE 0.0 END AS f1
FROM by_true t LEFT JOIN by_pred p USING (class_id)
ORDER BY class_id
"""


def eval_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class top-1 / top-3 accuracy of the argmax probe: the rank
    of the TRUE class among the 10 per-class scores (rn where
    cls = label), hit counts as exact ints, accuracies as single
    divisions."""
    rank_true = (
        _class_scores(spark, sf_dir)
        .where(F.col("cls") == F.col("label"))
        .select(F.col("label").alias("class_id"), "rn")
    )
    agg = rank_true.groupBy("class_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("top1_hits"),
        F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0)).cast("long").alias("top3_hits"),
    )
    return agg.select(
        "class_id",
        "n",
        "top1_hits",
        "top3_hits",
        (F.col("top1_hits").cast("double") / F.col("n")).alias("acc_top1"),
        (F.col("top3_hits").cast("double") / F.col("n")).alias("acc_top3"),
    ).orderBy("class_id")


def _oracle_topk() -> str:
    return f"""
WITH {_oracle_class_scores()}
SELECT label AS class_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1_hits,
       CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS top3_hits,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS acc_top1,
       CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS acc_top3
FROM ranked
WHERE cls = label
GROUP BY label
ORDER BY class_id
"""


# --- retrieval MRR@k -----------------------------------------------------

def eval_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label retrieval MRR@10 with same-label = relevant: for each
    query vector, the reciprocal rank of the first same-label neighbor
    in its exact top-10 (integer-dot, label_noise.exact_knn_topk),
    scaled by lcm(1..10)=2520 so every 1/r is an exact integer;
    queries with no hit contribute 0. One float division per label at
    the end. Probe-sized by contract — the underlying exact_knn_topk
    kernel refuses inputs above guard.MAX_EVAL_ROWS (O(n²) pair work;
    corpus-scale retrieval belongs to the ANN operators)."""
    topk = exact_knn_topk(spark, sf_dir, k=MRR_K)
    hits = (
        topk.where(F.col("nbr_label") == F.col("label"))
        .groupBy("vec_id", "label")
        .agg(F.min("rn").alias("first_hit"))
        .select(
            "label",
            F.expr(f"{RR_SCALE} div first_hit").cast("long").alias("rr"),
        )
    )
    per_label_rr = hits.groupBy("label").agg(
        F.sum("rr").cast("long").alias("sum_rr_x2520")
    )
    totals = quantized(spark, sf_dir).groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    return (
        totals.join(per_label_rr, "label", "left")
        .select(
            "label",
            "n_queries",
            F.coalesce(F.col("sum_rr_x2520"), F.lit(0).cast("long")).alias(
                "sum_rr_x2520"
            ),
            (
                F.coalesce(F.col("sum_rr_x2520"), F.lit(0)).cast("double")
                / (F.lit(float(RR_SCALE)) * F.col("n_queries"))
            ).alias("mrr"),
        )
        .orderBy("label")
    )


def _oracle_mrr() -> str:
    return f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS i, a.label AS la, b.vec_id AS nbr, b.label AS lb,
         CAST(list_inner_product(a.qe, b.qe) AS BIGINT) AS dot
  FROM q a JOIN q b ON a.vec_id <> b.vec_id
), topk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY i ORDER BY dot DESC, nbr) AS rn
  FROM pairs
), hits AS (
  SELECT i, la AS label, {RR_SCALE} // MIN(rn) AS rr
  FROM topk WHERE rn <= {MRR_K} AND lb = la
  GROUP BY i, la
), per_label AS (
  SELECT label, CAST(SUM(rr) AS BIGINT) AS sum_rr_x2520 FROM hits GROUP BY label
), totals AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_queries FROM embeddings GROUP BY label
)
SELECT CAST(t.label AS INTEGER) AS label,
       t.n_queries,
       COALESCE(p.sum_rr_x2520, 0) AS sum_rr_x2520,
       CAST(COALESCE(p.sum_rr_x2520, 0) AS DOUBLE)
         / ({float(RR_SCALE)} * t.n_queries) AS mrr
FROM totals t LEFT JOIN per_label p USING (label)
ORDER BY label
"""


QUERIES = {
    "eval_auc_binary": eval_auc_binary,
    "eval_class_prf": eval_class_prf,
    "eval_topk_accuracy": eval_topk_accuracy,
    "eval_mrr_at_k": eval_mrr_at_k,
}
ORACLES = {
    "eval_auc_binary": _oracle_auc(),
    "eval_class_prf": _oracle_prf(),
    "eval_topk_accuracy": _oracle_topk(),
    "eval_mrr_at_k": _oracle_mrr(),
}


# --- probe agreement: exact Kendall tau-b --------------------------------

# Per-block row target: a block-pair task's sign matrices are
# KT_BLOCK_ROWS² int8 cells (512² = 256 KiB) — constant task memory
# and arithmetic at ANY corpus size once B derives from n.
KT_BLOCK_ROWS = 512
KT_MIN_BLOCKS = 2


def kt_auto_blocks(n: int, target_rows: int = KT_BLOCK_ROWS) -> int:
    """Scale-prescribed block count (the auto_planes/auto_tables
    convention): B = ceil(n / target_rows), floored at KT_MIN_BLOCKS,
    so the largest block task touches ~(n/B)² ≤ target_rows² pairs —
    the 2/B² max-task share bound holds at any n instead of only at
    the n the old fixed B=8 was tuned for. Pinned in
    tests/test_scaling_curve.py::test_kendall_pair_work_distributed."""
    if n <= 1:
        return KT_MIN_BLOCKS
    return max(KT_MIN_BLOCKS, -(-n // target_rows))


def eval_kendall_tau(
    spark: SparkSession,
    sf_dir: str,
    n_blocks: int | None = None,
    cap: int = guard.MAX_EVAL_ROWS,
    sample_every: int | None = None,
) -> DataFrame:
    """Exact Kendall tau-b rank agreement between two probes (the
    binary probe and class-1's probe) — the metric that answers "do
    two quality scorers order the corpus the same way?" before one
    replaces the other in a curation cascade. (Round-9 history: the
    mod-7 ``_coef_class(0)`` was coefficient-identical to
    ``_coef_binary``, which made the statistic degenerate — tau_b ≡ 1,
    discordant and tie counts ≡ 0. First fixed at this call site by
    comparing class 1, then at the root by moving the class probes to
    mod 11 — see ``_coef_class`` — so now NO class probe can collide
    with the mod-7 binary probe; the oracle changed in lockstep both
    times.)

    All five pair classes (concordant / discordant / tied-A-only /
    tied-B-only / tied-both) are exact int64 counts; tau_b performs
    one sqrt of an exactly-representable integer product (< 2⁵³) and
    one division — IEEE-identical in both engines.

    Scale shape: O(n²) pair work by definition, distributed by
    ``intdot.block_cogroup`` over the upper triangle of a B×B block
    grid, where each cogroup task counts its block pair in one
    vectorized numpy pass and emits FIVE scalars — the shuffle carries n·B rows
    in and B² 5-int rows out, never n² pairs. The sign matrices are
    int8, so a task's memory is block_size² bytes. B AUTO-SCALES with
    the corpus (kt_auto_blocks: B = ceil(n/512), one count() of the
    already-checkpointed score table) so per-task pair work stays
    ~512² at any n — raising the corpus raises the task COUNT, never
    the task size. Auto-blocking bounds the TASK, not the n² pair
    TOTAL — so the kernel additionally refuses inputs above ``cap``
    rows (guard.assert_probe_sized contract: probe-sized eval sets;
    raise ``cap=`` to opt into a larger pair budget deliberately).

    ``sample_every=m`` is the corpus-scale estimator (the SCALING.md
    'sample pairs — tau is estimable' swap, now code): keep each row
    with probability 1/m via the deterministic md5 coin, then run the
    SAME exact kernel on the subsample — tau-b of a uniform row
    subsample is the standard consistent estimator of the population
    tau (all n²/m² pairs among kept rows are sampled pairs), with
    sampling error O(1/√(n/m)). The subsample must still fit the cap;
    the estimator path exists exactly so that m can bring any corpus
    under it. Bounded-deviation vs the exact statistic is pinned in
    tests/test_eval_guard.py."""
    scored = quantized(spark, sf_dir).select(
        "vec_id",
        _dot(F.col("qe"), _coef_binary()).alias("sa"),
        _dot(F.col("qe"), _coef_class(1)).alias("sb"),
    )
    if sample_every is not None and sample_every > 1:
        from aliyun_emapreduce_datasources_spark.operators.common import (
            md5_bucket,
        )

        scored = scored.where(
            md5_bucket(F.col("vec_id").cast("string"), sample_every) == 0
        )
    # probe-size BEFORE checkpointing (refuse a mis-aimed corpus, do
    # not first materialize it to local disk); under the cap the
    # limit(cap+1) count IS the exact n, so auto-blocking reuses it
    # and the guard adds no extra job
    n_rows = scored.limit(cap + 1).count()
    if n_rows > cap:
        guard.assert_probe_sized(scored, "eval_kendall_tau", cap)
    base = scored.persist()  # one scan+score feeds both sides
    if n_blocks is None:
        n_blocks = kt_auto_blocks(n_rows)
    base = base.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    )

    import numpy as np
    import pandas as pd

    def partial_counts(key, pl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
        cols = ("c", "d", "ta", "tb", "tab")
        if pl.empty or pr.empty:
            return pd.DataFrame({k: [] for k in cols})
        # same-block pairs are counted via the strict upper triangle of
        # a CONSISTENT ordering — both sides sorted by vec_id
        pl = pl.sort_values("vec_id")
        pr = pr.sort_values("vec_id")
        sa_l = pl["sa"].to_numpy(np.int64)
        sb_l = pl["sb"].to_numpy(np.int64)
        sa_r = pr["sa"].to_numpy(np.int64)
        sb_r = pr["sb"].to_numpy(np.int64)
        da = np.sign(sa_l[:, None] - sa_r[None, :]).astype(np.int8)
        db = np.sign(sb_l[:, None] - sb_r[None, :]).astype(np.int8)
        if key[0] == key[1]:
            mask = np.triu(np.ones(da.shape, dtype=bool), k=1)
        else:
            mask = np.ones(da.shape, dtype=bool)
        prod = da * db
        return pd.DataFrame(
            {
                "c": [int(((prod > 0) & mask).sum())],
                "d": [int(((prod < 0) & mask).sum())],
                "ta": [int(((da == 0) & (db != 0) & mask).sum())],
                "tb": [int(((db == 0) & (da != 0) & mask).sum())],
                "tab": [int(((da == 0) & (db == 0) & mask).sum())],
            }
        )

    grid = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    partials = block_cogroup(
        base, base, grid, partial_counts, "c long, d long, ta long, tb long, tab long"
    )
    agg = partials.agg(
        F.sum("c").cast("long").alias("concordant"),
        F.sum("d").cast("long").alias("discordant"),
        F.sum("ta").cast("long").alias("tied_a_only"),
        F.sum("tb").cast("long").alias("tied_b_only"),
        F.sum("tab").cast("long").alias("tied_both"),
    ).withColumn(
        "n_pairs",
        (
            F.col("concordant")
            + F.col("discordant")
            + F.col("tied_a_only")
            + F.col("tied_b_only")
            + F.col("tied_both")
        ).cast("long"),
    )
    denom_a = F.col("n_pairs") - F.col("tied_a_only") - F.col("tied_both")
    denom_b = F.col("n_pairs") - F.col("tied_b_only") - F.col("tied_both")
    tau = F.when(
        (denom_a > 0) & (denom_b > 0),
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt(denom_a.cast("double") * denom_b),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        "tied_a_only",
        "tied_b_only",
        "tied_both",
        tau.alias("tau_b"),
    )


def _oracle_kendall() -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
  FROM embeddings
), s AS (
  SELECT vec_id,
         CAST(list_inner_product(qe, {_sql_list(_coef_binary())}) AS BIGINT) AS sa,
         CAST(list_inner_product(qe, {_sql_list(_coef_class(1))}) AS BIGINT) AS sb
  FROM q
), p AS (
  SELECT CAST(sign(a.sa - b.sa) AS INTEGER) AS da,
         CAST(sign(a.sb - b.sb) AS INTEGER) AS db
  FROM s a JOIN s b ON a.vec_id < b.vec_id
), agg AS (
  SELECT CAST(SUM(CASE WHEN da * db > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN da * db < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
         CAST(SUM(CASE WHEN da = 0 AND db <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tied_a_only,
         CAST(SUM(CASE WHEN db = 0 AND da <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tied_b_only,
         CAST(SUM(CASE WHEN da = 0 AND db = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tied_both,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM p
)
SELECT n_pairs, concordant, discordant, tied_a_only, tied_b_only, tied_both,
       CASE WHEN n_pairs - tied_a_only - tied_both > 0
             AND n_pairs - tied_b_only - tied_both > 0
            THEN CAST(concordant - discordant AS DOUBLE)
                 / sqrt(CAST(n_pairs - tied_a_only - tied_both AS DOUBLE)
                        * (n_pairs - tied_b_only - tied_both))
            ELSE 0.0 END AS tau_b
FROM agg
"""


QUERIES["eval_kendall_tau"] = eval_kendall_tau
ORACLES["eval_kendall_tau"] = _oracle_kendall()


# --- calibration-style score deciles --------------------------------------

def eval_score_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile calibration table of the binary probe: rows ordered by
    (score, vec_id) cut into 10 equal-count buckets, each reporting
    population, positive count, positive rate, and the score span —
    the sigmoid-free calibration curve (monotone pos_rate across
    deciles ⇔ well-ordered scorer) every model-gated curation step
    reads before trusting a threshold.

    NTILE over a deterministic total order (score, vec_id) buckets
    identically in both engines; counts are exact ints, pos_rate is
    the single-division convention.

    Scale shape (round-7 swap of the global NTILE sort): global ranks
    come from the score count grid — per-distinct-score row counts,
    cumulative offsets over |distinct scores| (range-bounded, the
    eval_auc_binary argument), joined back on the score — plus a
    per-score row_number window partitioned by ``s``; NTILE's bucket
    assignment is then the CLOSED FORM of its size rule (first
    ``n MOD 10`` buckets hold ``n DIV 10 + 1`` rows, the rest
    ``n DIV 10``), evaluated per row. No unpartitioned raw-row sort
    anywhere; bit-identical to NTILE because the (off + within-score
    rank) pair IS the (s, vec_id) global rank. The score-grid shuffle
    co-partitions the join and the per-score window — one exchange of
    the scored rows total.
    """
    scored = quantized(spark, sf_dir).select(
        "vec_id",
        _dot(F.col("qe"), _coef_binary()).alias("s"),
        F.when(F.col("label") >= 5, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    per_s = scored.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    w_g = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_s.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_g), F.lit(0)).cast("long")
    ).withColumn("n_all", F.sum("cnt").over(Window.partitionBy()).cast("long"))
    w_s = Window.partitionBy("s").orderBy("vec_id")
    ranked = (
        scored.join(offs.select("s", "off", "n_all"), "s")
        .withColumn("rn", F.col("off") + F.row_number().over(w_s))
        .withColumn("q", F.expr("n_all DIV 10"))
        .withColumn("r", F.expr("n_all % 10"))
    )
    decile = F.expr(
        "CASE WHEN q = 0 THEN rn "
        "WHEN rn <= r * (q + 1) THEN (rn + q) DIV (q + 1) "
        "ELSE r + (rn - r * (q + 1) + q - 1) DIV q END"
    )
    g = ranked.withColumn("decile", decile.cast("int")).groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.min("s").alias("s_min"),
        F.max("s").alias("s_max"),
    )
    return g.select(
        "decile",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n")).alias("pos_rate"),
        "s_min",
        "s_max",
    ).orderBy("decile")


def _oracle_score_deciles() -> str:
    return f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
  FROM embeddings
), scored AS (
  SELECT vec_id,
         CAST(list_inner_product(qe, {_sql_list(_coef_binary())}) AS BIGINT) AS s,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM q
), d AS (
  SELECT s, y, NTILE(10) OVER (ORDER BY s, vec_id) AS decile FROM scored
), g AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(MIN(s) AS BIGINT) AS s_min,
         CAST(MAX(s) AS BIGINT) AS s_max
  FROM d GROUP BY decile
)
SELECT decile, n, n_pos,
       CAST(n_pos AS DOUBLE) / n AS pos_rate,
       s_min, s_max
FROM g ORDER BY decile
"""


QUERIES["eval_score_deciles"] = eval_score_deciles
ORACLES["eval_score_deciles"] = _oracle_score_deciles()


# --- hard-negative mining -------------------------------------------------

def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    highest-similarity neighbor with a DIFFERENT label (its rank, id,
    label and integer dot) from the exact top-10 — the standard
    "mine hard negatives from the current index" step that turns a
    random-negative triplet set (emb_contrastive_triplets) into a
    hard-negative one. Anchors whose entire top-10 shares their label
    have no row (no negative that hard exists).

    Third consumer of label_noise.exact_knn_topk — same kernel, same
    scale shape (n·B·k shuffle, block-matrix compute), same
    probe-sized contract (the kernel refuses > guard.MAX_EVAL_ROWS
    rows); the struct-min pick is deterministic because rn is unique
    per anchor."""
    topk = exact_knn_topk(spark, sf_dir, k=MRR_K)
    hn = (
        topk.where(F.col("nbr_label") != F.col("label"))
        .groupBy("vec_id", "label")
        .agg(F.min(F.struct("rn", "nbr", "nbr_label", "dot")).alias("h"))
    )
    return hn.select(
        "vec_id",
        "label",
        F.col("h.rn").alias("hn_rank"),
        F.col("h.nbr").alias("hn_id"),
        F.col("h.nbr_label").alias("hn_label"),
        F.col("h.dot").alias("hn_dot"),
    ).orderBy("vec_id")


def _oracle_hard_negatives() -> str:
    return f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS i, a.label AS la, b.vec_id AS nbr, b.label AS lb,
         CAST(list_inner_product(a.qe, b.qe) AS BIGINT) AS dot
  FROM q a JOIN q b ON a.vec_id <> b.vec_id
), topk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY i ORDER BY dot DESC, nbr) AS rn
  FROM pairs
), hard AS (
  SELECT i, la, rn, nbr, lb, dot,
         ROW_NUMBER() OVER (PARTITION BY i ORDER BY rn) AS pick
  FROM topk WHERE rn <= {MRR_K} AND lb <> la
)
SELECT i AS vec_id,
       CAST(la AS INTEGER) AS label,
       CAST(rn AS INTEGER) AS hn_rank,
       nbr AS hn_id,
       CAST(lb AS INTEGER) AS hn_label,
       dot AS hn_dot
FROM hard WHERE pick = 1
ORDER BY vec_id
"""


QUERIES["emb_hard_negatives"] = emb_hard_negatives
ORACLES["emb_hard_negatives"] = _oracle_hard_negatives()


# --- full confusion matrix -------------------------------------------------

def eval_confusion_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full confusion matrix of the argmax probe — (true class,
    predicted class, count, row share) for every observed cell. The
    cell-level artifact eval_class_prf's margins summarize: WHERE the
    classifier bleeds (which class pairs confuse) rather than how much.
    One groupBy over the argmax table; ≤ |classes|² output rows at any
    corpus size; row_share is the single-division convention."""
    pred = (
        _class_scores(spark, sf_dir)
        .where(F.col("rn") == 1)
        .select(
            F.col("label").cast("int").alias("true_class"),
            F.col("cls").alias("pred_class"),
        )
    )
    cells = pred.groupBy("true_class", "pred_class").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    row_total = F.sum("n").over(Window.partitionBy("true_class"))
    return (
        cells.withColumn("row_share", F.col("n").cast("double") / row_total)
        .orderBy("true_class", "pred_class")
    )


def _oracle_confusion_cells() -> str:
    return f"""
WITH {_oracle_class_scores()},
pred AS (
  SELECT CAST(label AS INTEGER) AS true_class, cls AS pred_class
  FROM ranked WHERE rn = 1
), cells AS (
  SELECT true_class, pred_class, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
)
SELECT true_class, pred_class, n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY true_class) AS BIGINT) AS row_share
FROM cells
ORDER BY true_class, pred_class
"""


QUERIES["eval_confusion_cells"] = eval_confusion_cells
ORACLES["eval_confusion_cells"] = _oracle_confusion_cells()
