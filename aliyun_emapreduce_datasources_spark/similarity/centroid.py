"""Per-label embedding centroids (class prototypes).

The building block of classifier-based data curation and SemDeDup-
style semantic clustering: reduce each label's embeddings to an
elementwise mean vector. Output is the exploded (label, dim,
centroid) grid so the result is a plain relational table — labels ×
64 rows — directly joinable for nearest-prototype assignment.

Scale shape: ``posexplode`` fans each vector into (label, dim, value)
rows, but hash aggregation on (label, dim) starts map-side — each
task emits at most labels × dims partial rows regardless of input
size, so the one shuffle moves O(tasks × labels × dims), not
O(vectors × dims). No driver collection, no UDF.

Determinism: the decimal(18,6) cast convention of operators/common.py
does NOT work here — Spark rounds float→decimal through the float's
shortest string representation while DuckDB rounds the full double
expansion, and they disagree in the last decimal ULP on a few per
thousand values. Instead elements are quantized to integer micro-units
with ``floor(double(e) * 1e6)``: float32→double is exact, the multiply
and floor are single IEEE-754 operations both engines evaluate
bit-identically, and the rest is int64 arithmetic. The mean divides
the micro-unit sum back out in one double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.intdot import micro

__all__ = ["label_centroids", "QUERY", "ORACLE"]


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = micro(F.col("e"))
    return (
        emb.select(
            F.col("label").cast("long").alias("label"),
            F.posexplode("embedding").alias("dim", "e"),
        )
        .groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            (
                F.sum(q).cast("double")
                / (F.count(F.lit(1)) * F.lit(1000000.0))
            ).alias("centroid")
        )
    )


QUERY = label_centroids

ORACLE = """
SELECT CAST(label AS BIGINT) AS label,
       CAST(i - 1 AS BIGINT) AS dim,
       CAST(CAST(SUM(CAST(FLOOR(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / (COUNT(*) * 1000000.0) AS centroid
FROM (
  SELECT label, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
GROUP BY label, i
"""
