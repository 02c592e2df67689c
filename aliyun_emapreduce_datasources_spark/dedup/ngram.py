"""Blocked n-gram (shingle) Jaccard near-duplicate detection.

Exact Jaccard is O(n²); the scalable form blocks candidate pairs by a
cheap key first. Here the block key is (source, length bucket): real
pipelines use URL host / crawl shard the same way. Within a block only
pairs that SHARE a shingle are ever materialized: shingles are
exploded and self-joined on (block, shingle-hash), and the
intersection size falls out of a pair count — shuffle volume is
O(total shingles), never O(pairs × array length). Pairs sharing no
shingle have Jaccard 0 and are (correctly) never produced. This is
the plan that survives a 100 TB corpus; the per-pair
``array_intersect`` formulation it replaces re-walked both arrays for
every candidate pair.

Jaccard itself is |A∩B| / |A∪B| over distinct 3-token shingles —
integer set sizes, so the double division is bit-identical across
engines and the query is DuckDB-oracle-checkable. Shingles are
compared by xxhash64 (64-bit): a hash collision inside one block
would overcount the intersection by 1; at block sizes ≤ 10⁵ shingles
the collision odds are ~10⁻⁹ — accepted (and absent in the testdata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup.decontaminate import _O_SH
from aliyun_emapreduce_datasources_spark.dedup.pairs import materialized_pairs, overlap_counts
from aliyun_emapreduce_datasources_spark.functions.text import shingles, tokens
from aliyun_emapreduce_datasources_spark.operators.common import ensure_parallelism, t

__all__ = ["ngram_jaccard_pairs", "QUERY", "ORACLE"]

JACCARD_THRESHOLD = 0.5


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b) with shingle-Jaccard >= 0.5,
    blocked by (source, n_chars // 64)."""
    docs = t(spark, sf_dir, "documents")
    base = ensure_parallelism(docs).select(
        "doc_id",
        "source",
        (F.col("n_chars") / 64).cast("long").alias("len_bucket"),
        F.array_distinct(shingles(tokens("text"))).alias("sh"),
    )
    # (block, shingle-hash) postings; n_sh rides along for the union size
    ex = base.select(
        "doc_id",
        "source",
        "len_bucket",
        F.size("sh").alias("n_sh"),
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("s"),
    )

    def build(post: DataFrame) -> DataFrame:
        inter = overlap_counts(post, ["source", "len_bucket", "s"], "n_sh")
        jac = F.col("n_shared").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_shared")
        )
        return inter.select("doc_a", "doc_b", jac.alias("jaccard")).where(
            F.col("jaccard") >= JACCARD_THRESHOLD
        )

    return materialized_pairs(ex, build, fill=False)


QUERY = ngram_jaccard_pairs


ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, CAST(floor(n_chars / 64) AS BIGINT) AS len_bucket,
         {_O_SH} AS sh
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM base a JOIN base b
  ON a.source = b.source AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.5
"""
