"""Margin-based parallel-pair mining over the embedding table.

The bitext-mining primitive behind large multilingual training corpora
(Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
Multilingual Sentence Embeddings", ACL 2019; the CCMatrix pipeline):
given two embedding collections A and B, a pair (x, y) is mined not by
raw similarity but by the RATIO MARGIN

    margin(x, y) = sim(x, y) / ((avgNN_k(x, B) + avgNN_k(y, A)) / 2)

which normalizes away hubness — a vector that is close to *everything*
gets a high denominator and stops matching everything. Pairs are kept
when the forward-best margin exceeds 1.0 and then deduplicated on the
target side (max-margin wins), yielding an (approximately) one-to-one
alignment.

Here A = even ``vec_id`` and B = odd ``vec_id`` (the driver's
embeddings table is a single collection; the parity split stands in
for the two-language split and keeps the operator fully oracled).

Determinism / oracle parity: similarity is the exact int64 INNER
PRODUCT of micro-quantized vectors (similarity/intdot.py), so top-K
membership is engine-exact; the margin is a single IEEE division of
two exact int64s (``2·K·dot / (sumNN_x + sumNN_y)``) and therefore
bit-identical in Spark and DuckDB, making margin-rank ties impossible
to flip across engines (remaining ties break on dot desc, partner id
asc). A zero denominator (possible on adversarial inputs — dots may be
negative) yields NULL and the candidate is dropped, mirroring the
ANSI-division guard used across the engine.

Scale shape: exact cross-collection kNN is O(|A|·|B|) compute — the
point is to distribute it without materializing |A|·|B| rows:
``intdot.block_cogroup`` over all B² block pairs, one guarded numpy
int64 matmul per block pair, and each block pair emits only its
per-row AND per-column partial top-K (``intdot.topk_rows`` on the dot
matrix and on its transpose), so the
shuffle into the two global top-K windows carries (|A|+|B|)·B·K rows,
never |A|·|B|. The NN sums, margin join, and the two argmax windows
are all key-partitioned single shuffles. At 100 TB the shortlist step
swaps for the LSH probe (``lsh_shortlist_bitext_mine``) exactly as the
ANN entries do, with this exact variant as the recall reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.similarity import guard, intdot, label_noise
from aliyun_emapreduce_datasources_spark.similarity.score import _matrix

__all__ = ["emb_bitext_mine", "lsh_shortlist_bitext_mine", "QUERIES", "ORACLES"]

K_MINE = 4
N_BLOCKS = 8

_CAND_SCHEMA = "dir string, qid long, nbr long, dot long"


def emb_bitext_mine(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_MINE,
    n_blocks: int = N_BLOCKS,
    cap: int = guard.MAX_EVAL_ROWS,
) -> DataFrame:
    """(src_id, dst_id, dot, margin): ratio-margin-mined pairs from the
    even-id collection into the odd-id collection — forward-best margin
    per source, margin > 1.0, then max-margin dedup on the target.

    CONTRACT: probe-sized inputs only — exact cross-collection kNN is
    O(|A|·|B|) pair work, so inputs above ``cap`` rows are refused
    (guard.assert_probe_sized). ``lsh_shortlist_bitext_mine`` is the
    corpus-scale swap."""
    q = intdot.quantized(spark, sf_dir)
    # probe-size BEFORE the checkpoint materializes anything
    guard.assert_probe_sized(q, "emb_bitext_mine", cap)
    # one scan+quantize feeds both cogroup sides; ``vec_id DIV 2``
    # spreads EACH parity class over all blocks (pmod(vec_id, B) would
    # leave half the blocks empty per side)
    base = (
        q
        .withColumn(
            "blk", F.pmod(F.expr("vec_id DIV 2"), F.lit(n_blocks)).cast("int")
        )
        .withColumn("side", F.pmod("vec_id", F.lit(2)).cast("int"))
        .persist()
    )

    def side(parity: int) -> DataFrame:
        return base.where(F.col("side") == parity).select("vec_id", "qe", "blk")

    def partial_topk(key, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        if pa.empty or pb.empty:
            return pd.DataFrame({c: [] for c in ("dir", "qid", "nbr", "dot")})
        ids_a = pa["vec_id"].to_numpy(dtype=np.int64)
        ids_b = pb["vec_id"].to_numpy(dtype=np.int64)
        dots = intdot.int_matmul(
            _matrix(pa["qe"], np.int64), _matrix(pb["qe"], np.int64)
        )
        # the parities are disjoint, so topk_rows' self mask never fires
        fi, fj = intdot.topk_rows(dots, ids_a, ids_b, k)
        bi, bj = intdot.topk_rows(dots.T, ids_b, ids_a, k)
        return pd.DataFrame(
            {
                "dir": ["f"] * len(fi) + ["b"] * len(bi),
                "qid": np.concatenate([ids_a[fi], ids_b[bi]]),
                "nbr": np.concatenate([ids_b[fj], ids_a[bj]]),
                "dot": np.concatenate([dots[fi, fj], dots[bj, bi]]),
            }
        )

    grid = [(i, j) for i in range(n_blocks) for j in range(n_blocks)]
    cands = intdot.block_cogroup(
        side(0), side(1), grid, partial_topk, _CAND_SCHEMA, ("blk_a", "blk_b")
    )
    return _bitext_from_candidates(cands, k)


def lsh_shortlist_bitext_mine(
    spark: SparkSession, sf_dir: str, k: int = K_MINE
) -> DataFrame:
    """emb_bitext_mine over LSH candidates — the corpus-scale swap
    (SCALING.md bitext bullet: *at 100 TB the block matmul swaps for
    the IVF/LSH shortlist*). Candidates come from the shared hyperplane
    bucket table (label_noise.lsh_bucket_probes) with probes of each
    parity joined against corpus entries of the other, every surfaced
    pair exactly rescored JVM-side; the margin denominators sum the
    APPROXIMATE top-k (missed candidates shrink a denominator, which
    can only raise that vector's margins — mined-pair overlap vs the
    exact variant is pinned in tests/test_bitext_shortlist.py). No
    probe cap — bucketed candidate generation is the point."""
    base = intdot.quantized(spark, sf_dir).persist()
    tagged = label_noise.lsh_bucket_probes(base).withColumn(
        "par", F.pmod("vec_id", F.lit(2)).cast("int")
    )

    def pairs_into(corpus_parity: int) -> DataFrame:
        probes = tagged.where(
            (F.col("probe") == 1) & (F.col("par") != corpus_parity)
        ).select("tbl", "sig", F.col("vec_id").alias("qid"))
        corp = tagged.where(
            (F.col("probe") == 0) & (F.col("par") == corpus_parity)
        ).select("tbl", "sig", F.col("vec_id").alias("nbr"))
        return (
            probes.join(corp, ["tbl", "sig"])
            .select("qid", "nbr")
            .dropDuplicates(["qid", "nbr"])
        )

    fwd = pairs_into(1).withColumn("dir", F.lit("f"))  # even → odd
    bwd = pairs_into(0).withColumn("dir", F.lit("b"))  # odd → even
    cands = intdot.rescore_dots(base, fwd.unionByName(bwd), c="nbr")
    return _bitext_from_candidates(cands.select("dir", "qid", "nbr", "dot"), k)


def _bitext_from_candidates(cands: DataFrame, k: int) -> DataFrame:
    """Margin mining over a (dir, qid, nbr, dot) candidate table — the
    shared tail of the exact block-cogroup path and the LSH shortlist
    path: global per-(dir, qid) top-k, NN-sum denominators, ratio
    margin, forward-best + target dedup."""
    w = Window.partitionBy("dir", "qid").orderBy(F.desc("dot"), F.asc("nbr"))
    topk = (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .persist()  # one global-topk shuffle feeds fwd, sum_x, sum_y
    )
    fwd = topk.where(F.col("dir") == "f").select(
        F.col("qid").alias("x"), F.col("nbr").alias("y"), "dot"
    )
    sum_x = fwd.groupBy("x").agg(F.sum("dot").alias("sx"))
    sum_y = (
        topk.where(F.col("dir") == "b")
        .groupBy(F.col("qid").alias("y"))
        .agg(F.sum("dot").alias("sy"))
    )
    # LEFT join + coalesce(0) on the backward sum: in exact mode every
    # forward target has backward top-k rows so this is the identity,
    # but in shortlist mode a target that surfaced no backward
    # candidates would be DROPPED by an inner join — the opposite of
    # the documented "missed candidates can only raise margins"
    # direction. Treating its NN-sum as 0 keeps the pair and keeps the
    # monotonicity claim honest (round-8 review finding).
    den = F.col("sx") + F.coalesce(F.col("sy"), F.lit(0))
    cand = (
        fwd.join(sum_x, "x")
        .join(sum_y, "y", "left")
        .withColumn(
            "margin",
            F.when(
                den != F.lit(0),
                (F.lit(2 * k) * F.col("dot")).cast("double") / den.cast("double"),
            ),
        )
        .where(F.col("margin").isNotNull())
    )
    w_x = Window.partitionBy("x").orderBy(
        F.desc("margin"), F.desc("dot"), F.asc("y")
    )
    best_x = (
        cand.withColumn("rx", F.row_number().over(w_x))
        .where((F.col("rx") == 1) & (F.col("margin") > F.lit(1.0)))
    )
    w_y = Window.partitionBy("y").orderBy(
        F.desc("margin"), F.desc("dot"), F.asc("x")
    )
    return (
        best_x.withColumn("ry", F.row_number().over(w_y))
        .where(F.col("ry") == 1)
        .select(
            F.col("x").alias("src_id"),
            F.col("y").alias("dst_id"),
            "dot",
            "margin",
        )
        .orderBy("src_id")
    )


ORACLE_BITEXT = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS x, b.vec_id AS y,
         CAST(list_inner_product(a.qe, b.qe) AS BIGINT) AS dot
  FROM q a JOIN q b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
), fwd AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY x ORDER BY dot DESC, y) AS rn
  FROM pairs
), bwd AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY y ORDER BY dot DESC, x) AS rn
  FROM pairs
), sx AS (
  SELECT x, SUM(dot) AS sx FROM fwd WHERE rn <= {K_MINE} GROUP BY x
), sy AS (
  SELECT y, SUM(dot) AS sy FROM bwd WHERE rn <= {K_MINE} GROUP BY y
), cand AS (
  SELECT f.x, f.y, f.dot,
         CAST(2 * {K_MINE} * f.dot AS DOUBLE) / (sx.sx + sy.sy) AS margin
  FROM fwd f
  JOIN sx ON f.x = sx.x
  JOIN sy ON f.y = sy.y
  WHERE f.rn <= {K_MINE} AND sx.sx + sy.sy <> 0
), best_x AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY x
                            ORDER BY margin DESC, dot DESC, y) AS rx
  FROM cand
), uniq AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY y
                            ORDER BY margin DESC, dot DESC, x) AS ry
  FROM best_x
  WHERE rx = 1 AND margin > 1.0
)
SELECT x AS src_id, y AS dst_id, dot, margin
FROM uniq
WHERE ry = 1
ORDER BY src_id
"""


QUERIES = {"emb_bitext_mine": emb_bitext_mine}
ORACLES = {"emb_bitext_mine": ORACLE_BITEXT}
