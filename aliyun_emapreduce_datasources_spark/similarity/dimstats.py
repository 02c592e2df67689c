"""Per-dimension embedding profile (whitening / anisotropy audit).

The hygiene check run before any embedding-based curation (SemDeDup,
ANN retrieval, clustering): per dimension — count, mean, population
variance, and the squared-mean share of energy. Collapsed variance in
a dimension means the encoder wastes capacity; a mean vector far from
the origin (large ``mean_sq`` mass vs ``var``) is the anisotropy /
"common direction" pathology (Ethayarajh 2019; Mu & Viswanath 2018,
"All-but-the-Top") that makes cosine similarity saturate — the cure
(subtract the mean, optionally whiten) consumes exactly this table.

Exactness: elements quantize to integer micro-units — ``floor(
double(e)·1e6)`` — the label_centroids convention (float32→double is
exact, one multiply + one floor, then int64 sums). ``q²`` per element
is ≤ ~1e12 and the per-dim sums stay far inside int64 through sf1.
The mean/variance then derive from the two exact sums by the SAME
written-out sequence of IEEE divisions in both engines:
``mean = (s1/n)/1e6``, ``var = (s2/n)/1e12 − mean²`` — every step a
single deterministic double op on identical inputs, so the driver's
hash check holds bit-for-bit.

Scale shape: ``posexplode`` fans each vector into (dim, value) rows
but the (dim) hash aggregate combines map-side — each task emits at
most |dims| partial rows regardless of vector count, so the one
shuffle carries O(tasks × 64) rows at any corpus size. No driver
collection, no UDF, no second pass (the variance is single-pass via
the sum-of-squares identity on exact integers, which — unlike its
float folklore counterpart — loses nothing to cancellation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.intdot import micro

__all__ = ["embedding_dim_profile", "QUERY", "ORACLE"]


def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = micro(F.col("e"))
    agg = (
        emb.select(F.posexplode("embedding").alias("dim", "e"))
        .select(F.col("dim").cast("long").alias("dim"), q.alias("q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("q").cast("long").alias("s1"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("s2"),
        )
    )
    mean = (F.col("s1").cast("double") / F.col("n").cast("double")) / F.lit(1e6)
    m2 = (F.col("s2").cast("double") / F.col("n").cast("double")) / F.lit(1e12)
    return (
        agg.withColumn("mean", mean)
        .withColumn("var_pop", m2 - F.col("mean") * F.col("mean"))
        .withColumn("mean_sq", F.col("mean") * F.col("mean"))
        .select("dim", "n", "mean", "var_pop", "mean_sq")
        .orderBy("dim")
    )


QUERY = embedding_dim_profile

ORACLE = """
WITH q AS (
  SELECT CAST(i - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS q
  FROM (
    SELECT unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
    FROM embeddings
  )
), agg AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s1,
         CAST(SUM(q * q) AS BIGINT) AS s2
  FROM q GROUP BY dim
)
SELECT dim, n,
       (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6 AS mean,
       (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e12
         - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6)
           * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6) AS var_pop,
       ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6)
         * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6) AS mean_sq
FROM agg
ORDER BY dim
"""


# --- norm histogram (retrieval/quantization pre-flight) -----------------


def emb_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of squared embedding norms in integer micro² units —
    the pre-flight QC before choosing dot-product vs cosine retrieval
    (a wide norm spread makes raw dot ranking norm-dominated) and
    before PQ/int8 codebook training (norm outliers blow up
    quantization error: ann_int8/ann_pq family).

    norm²_micro = Σ q_i² with q = floor(double(x)·1e6) — exact int64
    (≤ 64·(5.3e5)² ≈ 1.8e13 ≪ 2⁶³); buckets are norm²_micro DIV 1e12
    (i.e. ~unit-norm² steps). Pure scan → project → hash agg onto a
    handful of buckets; everything integer, no division at all.
    """
    emb = t(spark, sf_dir, "embeddings")
    q = F.transform("embedding", micro)
    norm2 = F.aggregate(
        q, F.lit(0).cast("long"), lambda acc, v: acc + v * v
    )
    g = emb.select(norm2.alias("n2")).select(
        F.expr("n2 div 1000000000000").alias("bucket"), "n2"
    )
    return (
        g.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("n2").alias("min_norm2_micro"),
            F.max("n2").alias("max_norm2_micro"),
        )
        .orderBy("bucket")
    )


ORACLE_NORM_HIST = """
WITH q AS (
  SELECT CAST(list_sum(list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                * CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))
         AS BIGINT) AS n2
  FROM embeddings
)
SELECT n2 // 1000000000000 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(n2) AS BIGINT) AS min_norm2_micro,
       CAST(MAX(n2) AS BIGINT) AS max_norm2_micro
FROM q
GROUP BY bucket ORDER BY bucket
"""


QUERIES = {"emb_norm_histogram": emb_norm_histogram}
ORACLES = {"emb_norm_histogram": ORACLE_NORM_HIST}
