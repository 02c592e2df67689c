"""Shingle-containment near-duplicate detection (doc-inside-doc).

Symmetric Jaccard (``dedup/ngram.py``) misses the asymmetric case a
crawl corpus is full of: a short page embedded verbatim inside a
longer one (quote farms, template wrappers, syndicated excerpts).
Jaccard of a 100-shingle doc inside a 10,000-shingle doc is ≤ 0.01;
its *containment* |A∩B| / min(|A|,|B|) is 1.0. This operator finds
pairs with containment ≥ ``CONTAINMENT_THRESHOLD`` over distinct
3-token shingles.

Two deliberate departures from the Jaccard blocker:

- **No length-bucket blocking.** Containment pairs have *different*
  lengths by construction — bucketing by length would discard exactly
  the pairs we want. Blocking is by ``source`` plus the shared-shingle
  requirement itself (pairs sharing no shingle are never produced).
- **Stop-shingle pruning.** Without length buckets, a boilerplate
  shingle shared by every doc in a source would quadratically blow up
  the candidate join. Shingles occurring in more than ``MAX_DF`` docs
  of a source are dropped *before* the self-join — the standard
  postings-list cap (same role as a stopword list in text search).
  The metric is then containment over the PRUNED sets (sizes are
  recomputed post-prune), which keeps it exactly defined and
  oracle-checkable rather than an unquantified approximation.

Scale shape (100 TB): shuffle volume is O(total shingles) — one
window shuffle on (source, shingle) for document frequency, one on
doc_id for pruned set size, then the postings self-join on
(source, shingle-hash) whose output is bounded by MAX_DF² per shingle
per source (the cap is what makes the worst case finite). All
integer sizes; the single double division is bit-identical across
engines. xxhash64 collision caveat as in dedup/ngram.py — and note
the DF cap is applied to the RAW shingle string BEFORE hashing, so a
collision can only merge postings for pair identity, never change
which shingles survive the MAX_DF cut (keeps the cut byte-identical
with the oracle, which has no hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup.decontaminate import _O_SH
from aliyun_emapreduce_datasources_spark.dedup.pairs import materialized_pairs, overlap_counts
from aliyun_emapreduce_datasources_spark.functions.text import shingles, tokens
from aliyun_emapreduce_datasources_spark.operators.common import ensure_parallelism, t

__all__ = ["containment_pairs", "QUERY", "ORACLE"]

CONTAINMENT_THRESHOLD = 0.5
MAX_DF = 50  # drop shingles present in > 50 docs of a source


def containment_pairs(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Pairs (doc_a < doc_b, same source) whose pruned-shingle
    containment |A∩B| / min(|A|,|B|) is >= the threshold.

    ``materialize=False`` keeps the plan fully lazy (no persist /
    checkpoint) for plan inspection — tests/test_plans.py pins the
    hash-equi join + Window shape, which the materialized path hides
    behind a checkpointed-RDD scan."""
    docs = t(spark, sf_dir, "documents")
    post = ensure_parallelism(docs).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(shingles(tokens("text")))).alias("s_raw"),
    )
    # df is computed on the RAW shingle string (exactly what the
    # oracle caps over) and only the surviving postings are hashed for
    # the self-join — a hash collision can therefore still merge two
    # postings lists (the pair-identity caveat below) but can never
    # shift the DF cut itself
    kept = (
        post.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("source", "s_raw"))
        )
        .where(F.col("df") <= MAX_DF)
        .select("doc_id", "source", F.xxhash64("s_raw").alias("s"))
        .withColumn(
            "n_kept", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )

    def build(post: DataFrame) -> DataFrame:
        inter = overlap_counts(post, ["source", "s"], "n_kept")
        containment = F.col("n_shared").cast("double") / F.least("n_a", "n_b")
        return inter.select(
            "doc_a", "doc_b", containment.alias("containment")
        ).where(F.col("containment") >= CONTAINMENT_THRESHOLD)

    return materialized_pairs(kept, build, fill=False, materialize=materialize)


QUERY = containment_pairs


ORACLE = f"""
WITH post AS (
  SELECT doc_id, source, unnest({_O_SH}) AS s FROM documents
), kept AS (
  SELECT doc_id, source, s
  FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY source, s) AS df FROM post
  )
  WHERE df <= {MAX_DF}
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY doc_id) AS n_kept FROM kept
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_kept AS n_a, b.n_kept AS n_b, COUNT(*) AS inter
  FROM sized a JOIN sized b
    ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / LEAST(n_a, n_b) AS containment
FROM inter
WHERE CAST(inter AS DOUBLE) / LEAST(n_a, n_b) >= {CONTAINMENT_THRESHOLD}
"""
