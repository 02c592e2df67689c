"""Exact distributed embedding covariance + All-but-the-Top transform.

``emb_covariance`` computes the full (upper-triangle) covariance
matrix of the embedding corpus as ONE distributed aggregate — the
cluster-side half of every whitening / PCA / anisotropy-correction
pipeline. The architectural point: at any corpus size the hard part
is the Σ x xᵀ reduction over the data; the eigendecomposition of the
resulting dims×dims table (64×64 here, a few thousand square at
production dims) is driver/numpy work BY DESIGN — a 16 MB matrix does
not need a cluster. This is the standard split (Spark MLlib's
``RowMatrix.computePrincipalComponents`` does exactly this: gramian
on executors, LAPACK on the driver).

Exactness: elements quantize to micro ints (the label_centroids /
dim_profile convention); the pairwise sums Σ q_a·q_b are int64
(|q|≤2e6 → products ≤ 4e12; safe through ~10⁶ vectors per the int64
budget), and the covariance finishes with the SAME written-out IEEE
sequence both engines evaluate identically:
``cov = (s_ab/n)/1e12 − ((s_a/n)/1e6)·((s_b/n)/1e6)`` — single-pass
sum-of-products, immune to cancellation because the sums are exact
integers, bit-identical under any partitioning.

Scale shape: the in-row pair expansion emits d(d+1)/2 rows per vector
(2,080 at d=64) but the (dim_a, dim_b) hash aggregate combines
map-side — each task ships at most 2,080 partial rows no matter how
many vectors it read. At production dims (1–4k) the expansion factor
grows quadratically; the swap is mapInPandas partial Gram blocks
(one numpy ``X.T @ X`` per Arrow batch, emitting the same per-pair
partial sums), identical shuffle shape, BLAS inner loop.

``abtt_residual_violations`` (companion, empty-set oracle) pins the
All-but-the-Top transform (Mu & Viswanath 2018): subtract the corpus
mean, project out the top principal direction (driver eigh of the
exact covariance — deterministic: the input matrix is bit-identical
ints-derived doubles), renormalize. Two properties hold REGARDLESS of
the spectrum (no convergence assumption, valid even on this
near-isotropic synthetic corpus): (1) the transformed corpus mean
vanishes dimension-wise; (2) the transformed vectors carry zero
projection onto the removed direction. Violations beyond float-fold
tolerance are emitted; the driver hash-checks the empty set.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import ensure_parallelism, t
from aliyun_emapreduce_datasources_spark.similarity.intdot import QSCALE, micro, micro_np

__all__ = [
    "embedding_covariance",
    "abtt_residual_violations",
    "QUERIES",
    "ORACLES",
]

_GRAM_SCHEMA = (
    "dim_a long, dim_b long, n long, s_a long, s_b long, s_ab long"
)


def _gram_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact upper-triangle second-moment table
    (dim_a, dim_b, n, s_a, s_b, s_ab) of the micro-quantized corpus.

    The original shape posexploded every vector into d(d+1)/2 pair
    rows (2,080 at d=64 — a 41M-row hash aggregate at sf0.1) fed row
    at a time through interpreted expressions. This is the partial
    Gram-block swap the module docstring always named for production
    dims (guide §4.2 — hand whole Arrow batches to native code): each
    batch computes one int64 ``Q.T @ Q`` and emits ONE set of 2,080
    partial rows, so the shuffle carries O(batches · d²) rows instead
    of O(vectors · d²). Exactness is unchanged: quantization is the
    same ``floor(float64(x) · 1e6)``, and all sums are int64 with the
    same wraparound arithmetic as the JVM's long (numpy int64), so the
    merged totals are bit-identical to the exploded plan's — pinned by
    the unchanged DuckDB oracle. NaN/NULL components would quantize
    platform-dependently in numpy, so they refuse loudly (none of the
    fixtures nor the adversarial float suite carries them — the
    embeddings contract is finite float32)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = [v for v in pdf["embedding"] if v is not None]
            by_len: dict[int, list[np.ndarray]] = {}
            for v in vecs:
                a = np.asarray(v, dtype=np.float64)
                if len(a):
                    by_len.setdefault(len(a), []).append(a)
            for d, rows in by_len.items():
                X = np.vstack(rows)
                if np.isnan(X).any() or np.isinf(X).any():
                    raise ValueError(
                        "embedding covariance: non-finite component — "
                        "the exact micro-int quantization is only "
                        "defined for finite values"
                    )
                Q = micro_np(X).astype(np.int64)
                with np.errstate(over="ignore"):
                    G = Q.T @ Q  # int64, JVM-long wraparound semantics
                    col = Q.sum(axis=0, dtype=np.int64)
                ia, ib = np.triu_indices(d)
                yield pd.DataFrame(
                    {
                        "dim_a": ia.astype(np.int64),
                        "dim_b": ib.astype(np.int64),
                        "n": np.full(len(ia), len(rows), dtype=np.int64),
                        "s_a": col[ia],
                        "s_b": col[ib],
                        "s_ab": G[ia, ib],
                    }
                )

    emb = ensure_parallelism(t(spark, sf_dir, "embeddings").select("embedding"))
    partials = emb.mapInPandas(run, _GRAM_SCHEMA)
    return partials.groupBy("dim_a", "dim_b").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s_a").cast("long").alias("s_a"),
        F.sum("s_b").cast("long").alias("s_b"),
        F.sum("s_ab").cast("long").alias("s_ab"),
    )


def _q_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qarr = F.transform("embedding", micro)
    return (
        emb.select(qarr.alias("q"))
        .select(F.posexplode("q").alias("dim_a", "qa"), "q")
        .select("dim_a", "qa", F.posexplode("q").alias("dim_b", "qb"))
        .where(F.col("dim_b") >= F.col("dim_a"))
    )


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The STANDALONE entry keeps the pure-JVM exploded plan: at this
    # d the codegen'd Expand + hash aggregate measured FASTER than the
    # Arrow Gram pass (0.76 s vs 1.41 s at sf0.1 — the worker
    # round-trip dominates a 20k-vector corpus), and it keeps the
    # entry Python-free. _gram_moments (below) is the Arrow form the
    # ABTT check uses, where ONE collected aggregate replaces two
    # corpus scans and the interpreted transform tail — both produce
    # bit-identical sums (same int64 wraparound arithmetic), pinned by
    # the shared DuckDB oracle.
    pairs = _q_pairs(spark, sf_dir)
    agg = pairs.groupBy(
        F.col("dim_a").cast("long").alias("dim_a"),
        F.col("dim_b").cast("long").alias("dim_b"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qa").cast("long").alias("s_a"),
        F.sum("qb").cast("long").alias("s_b"),
        F.sum(F.col("qa") * F.col("qb")).cast("long").alias("s_ab"),
    )
    nd = F.col("n").cast("double")
    mean_a = (F.col("s_a").cast("double") / nd) / F.lit(1e6)
    mean_b = (F.col("s_b").cast("double") / nd) / F.lit(1e6)
    return (
        agg.withColumn(
            "cov",
            (F.col("s_ab").cast("double") / nd) / F.lit(1e12) - mean_a * mean_b,
        )
        .select("dim_a", "dim_b", "n", "cov")
        .orderBy("dim_a", "dim_b")
    )


ORACLE_COV = f"""
WITH q AS (
  SELECT vec_id,
         CAST(i - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e AS DOUBLE) * {QSCALE}.0) AS BIGINT) AS qe
  FROM (
    SELECT vec_id, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
    FROM embeddings
  )
), pairs AS (
  SELECT a.dim AS dim_a, b.dim AS dim_b, a.qe AS qa, b.qe AS qb
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.dim >= a.dim
), agg AS (
  SELECT dim_a, dim_b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qa) AS BIGINT) AS s_a,
         CAST(SUM(qb) AS BIGINT) AS s_b,
         CAST(SUM(qa * qb) AS BIGINT) AS s_ab
  FROM pairs GROUP BY dim_a, dim_b
)
SELECT dim_a, dim_b, n,
       (CAST(s_ab AS DOUBLE) / CAST(n AS DOUBLE)) / 1e12
         - ((CAST(s_a AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6)
           * ((CAST(s_b AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6) AS cov
FROM agg
ORDER BY dim_a, dim_b
"""


# Tolerance for the ABTT identity checks. Lower bound it must clear:
# μ comes from FLOOR-quantized micro-int sums while centering subtracts
# it from raw doubles, so each dim's mean residual is structurally up
# to 1/QSCALE = 1e-6 (the quantization bias) even for a perfect
# transform. 1e-5 dominates that bias by 10× while still catching any
# real centering/projection defect (which shows up at the data scale,
# ~1e-1) — the old 1e-6 sat knife-edge ON the bias and only held
# because this corpus' per-dim bias happened to cancel.
ABTT_TOL = 1e-5


def _abtt_mu_u(spark: SparkSession, sf_dir: str):
    """Corpus mean (micro-int exact) + top eigendirection of the exact
    covariance via driver eigh — both deterministic (bit-identical
    aggregate inputs; LAPACK eigh is deterministic per platform).
    Returns (dims, mu_list, u_list) or None on an empty corpus.

    Both μ and the covariance derive from ONE collected Gram-moment
    aggregate (d(d+1)/2 rows): the per-dim stats that used to cost a
    second corpus scan are the diagonal's (n, s_a), and the cov values
    are rebuilt on the driver with the exact IEEE sequence the Spark
    projection evaluates — float64 division/multiplication is
    bit-identical in Python and the JVM, so the eigh input matrix is
    unchanged to the bit."""
    gram_rows = _gram_moments(spark, sf_dir).collect()
    if not gram_rows:
        return None
    dims = max(int(r["dim_b"]) for r in gram_rows) + 1
    C = np.zeros((dims, dims))
    mu = [0.0] * dims
    for r in gram_rows:
        nd = float(r["n"])
        # same written-out IEEE sequence as embedding_covariance's
        # projection: (s_ab/n)/1e12 − ((s_a/n)/1e6)·((s_b/n)/1e6)
        cov = (float(r["s_ab"]) / nd) / 1e12 - (
            (float(r["s_a"]) / nd) / 1e6
        ) * ((float(r["s_b"]) / nd) / 1e6)
        C[r["dim_a"], r["dim_b"]] = C[r["dim_b"], r["dim_a"]] = cov
        if r["dim_a"] == r["dim_b"]:
            mu[r["dim_a"]] = float(r["s_a"]) / nd / float(QSCALE)
    _, V = np.linalg.eigh(C)
    u = V[:, -1]
    if u[int(np.argmax(np.abs(u)))] < 0:
        u = -u  # canonical sign
    return dims, mu, [float(x) for x in u]


def abtt_residual_violations(
    spark: SparkSession, sf_dir: str, _mutate_skip_projection: bool = False
) -> DataFrame:
    """(kind, idx, residual) rows where the ABTT-transformed corpus
    violates its defining identities beyond tolerance — empty set.

    kind='mean': per-dim |Σ_i y_ij| / n beyond ABTT_TOL (centering
    must survive the projection: u(u·Σc_i)=0 term-by-term).
    kind='proj': per-vector |u·y_i| beyond ABTT_TOL (the removed
    direction carries no energy after projection).

    The transform runs in-row against broadcast literal μ and u (no
    shuffle, no UDF); the reductions are plain aggregates.

    ``_mutate_skip_projection`` is the mutation-sensitivity hook
    (tests only): centering WITHOUT the projection step must light up
    the 'proj' violations — proving the check can actually fire.
    """
    packed = _abtt_mu_u(spark, sf_dir)
    if packed is None:
        return spark.createDataFrame([], "kind string, idx long, residual double")
    dims, mu, u = packed
    emb = t(spark, sf_dir, "embeddings")

    # One Arrow pass computes BOTH identity checks (r11 optimization
    # round). The expression form evaluated the centering/projection
    # zip_with/aggregate folds through interpreted lambdas TWICE (the
    # per-vector branch and a d-per-vector posexplode feeding the mean
    # aggregate); here each batch does the float64 linear algebra
    # vectorized and ships per-vector 'proj' candidates plus ONE set
    # of per-dim partial mean sums. Summation order differs from the
    # sequential fold only at the ~1 ulp level — ABTT_TOL sits 10x
    # above the structural quantization bias precisely so fold-order
    # noise can never flip a verdict (see its comment), and the oracle
    # pins the empty set, not the residual bits.
    mu_v = np.asarray(mu, dtype=np.float64)
    u_v = np.asarray(u, dtype=np.float64)
    skip = bool(_mutate_skip_projection)

    def run(batches):
        for pdf in batches:
            good_rows, good_ids = [], []
            for vid, v in zip(pdf["vec_id"], pdf["embedding"]):
                if v is not None and len(v) == dims:
                    good_rows.append(np.asarray(v, dtype=np.float64))
                    good_ids.append(int(vid))
            if not good_rows:
                continue
            X = np.vstack(good_rows)
            Cn = X - mu_v
            p = Cn @ u_v
            Y = Cn if skip else Cn - p[:, None] * u_v[None, :]
            reproj = np.abs(Y @ u_v)
            bad = reproj > ABTT_TOL
            out = {
                "tag": ["p"] * int(bad.sum()) + ["m"] * dims,
                "idx": np.concatenate(
                    [np.asarray(good_ids, dtype=np.int64)[bad],
                     np.arange(dims, dtype=np.int64)]
                ),
                "v1": np.concatenate([reproj[bad], Y.sum(axis=0)]),
                "v2": np.concatenate(
                    [np.zeros(int(bad.sum())),
                     np.full(dims, float(len(good_rows)))]
                ),
            }
            yield pd.DataFrame(out)

    parts = ensure_parallelism(emb.select("vec_id", "embedding")).mapInPandas(
        run, "tag string, idx long, v1 double, v2 double"
    )
    proj_bad = parts.where(F.col("tag") == "p").select(
        F.lit("proj").alias("kind"), F.col("idx"), F.col("v1").alias("residual")
    )
    mean_bad = (
        parts.where(F.col("tag") == "m")
        .groupBy("idx")
        .agg(F.abs(F.sum("v1") / F.sum("v2")).alias("residual"))
        .where(F.col("residual") > F.lit(ABTT_TOL))
        .select(F.lit("mean").alias("kind"), "idx", "residual")
    )
    return proj_bad.unionAll(mean_bad).orderBy("kind", "idx")


QUERIES = {
    "emb_covariance": embedding_covariance,
    "emb_abtt_residual_check": abtt_residual_violations,
}

ORACLES = {
    "emb_covariance": ORACLE_COV,
    "emb_abtt_residual_check": (
        "SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS idx,"
        " CAST(NULL AS DOUBLE) AS residual WHERE FALSE"
    ),
}
