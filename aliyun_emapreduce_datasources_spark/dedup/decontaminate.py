"""Train/eval decontamination by n-gram overlap.

The standard pretraining hygiene pass: any training document that
shares a k-token shingle with the held-out evaluation set is flagged
(and typically dropped or scrubbed). Here the eval split is carved
deterministically from the same corpus (``doc_id % 10 == 0`` — the
stand-in for "the benchmark suite"), and the overlap unit is the
3-token shingle, same as the near-dup operators.

Scale shape (the part that matters at 100 TB):

- Both sides explode to **distinct shingle hash postings** — shuffle
  volume is O(total shingles), never O(train × eval) document pairs.
- ONE corpus scan: the eval-membership test is
  ``max(is_eval) OVER (PARTITION BY hash)`` on the postings. The
  eval-distinct + join-back formulation re-reads and re-shingles the
  whole corpus for the probe side (Catalyst prunes the two branches
  to different columns, so their exchanges never dedup) — the second
  100 TB scan costs more than the window's per-key buffering ever
  can. When the eval set genuinely lives in a separate benchmark-
  sized table, the join form with a broadcast eval side is the right
  variant; this operator models eval carved from the corpus itself.
- Because the train side is distinct-per-document, the per-document
  ``COUNT(*)`` of eval-flagged postings IS the distinct-shared-
  shingle count — no count(distinct) pass needed.

Output: one row per contaminated training document with the number of
distinct eval shingles it shares. Clean documents produce no row (the
anti-join complement is the "keep" set).

Comparison is on xxhash64(shingle); a collision would flag one extra
shingle pair per ~2⁻⁶⁴ — accepted, and absent in the testdata (the
oracle compares raw shingle strings and matches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.functions.text import shingle_hashes
from aliyun_emapreduce_datasources_spark.operators.common import t

__all__ = ["decontaminate", "QUERY", "ORACLE"]


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing ≥1 distinct 3-shingle with the eval split
    (doc_id % 10 == 0), with the distinct shared-shingle count."""
    docs = t(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        (F.col("doc_id") % 10 == 0).alias("is_eval"),
        F.explode(shingle_hashes("text")).alias("s"),
    )
    w = Window.partitionBy("s")
    return (
        postings.withColumn("has_eval", F.max(F.col("is_eval").cast("int")).over(w))
        .where((F.col("has_eval") == 1) & ~F.col("is_eval"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


QUERY = decontaminate


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus-health matrix: for every ordered source pair
    (a < b), how many distinct 3-shingles they share — the signal for
    "these two crawls/dumps duplicate each other" that decides which
    source to drop before paying for full cross-source dedup.

    Scale shape: ONE wide shuffle. Shingle hashes group straight to
    ``collect_set(source)`` — the partial aggregate dedups map-side, so
    shuffle volume is O(distinct (shingle, source)) and the reduced row
    is one sorted source-set per shingle (bounded by the source count,
    a handful). Pair expansion then happens *inside the row* with array
    combinators — a shingle in s sources emits s·(s-1)/2 pair structs,
    never a self-join — and the final count lands on sources² rows. The
    self-join formulation costs two extra shuffles of the full postings
    set; this shape replaces them with in-row work."""
    docs = t(spark, sf_dir, "documents")
    postings = docs.select(
        "source",
        F.explode(shingle_hashes("text")).alias("s"),
    )
    per_shingle = postings.groupBy("s").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    pairs = per_shingle.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda x, i: F.transform(
                        F.slice(
                            "srcs", i + F.lit(2), F.size("srcs")
                        ),
                        lambda y: F.struct(
                            x.alias("source_a"), y.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.source_a").alias("source_a"),
        F.col("p.source_b").alias("source_b"),
    ).agg(F.count(F.lit(1)).alias("n_shared_shingles"))


_O_SH = (
    "list_distinct(list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))"
)

ORACLE = f"""
WITH sh AS (
  SELECT doc_id, doc_id % 10 = 0 AS is_eval, unnest({_O_SH}) AS s
  FROM documents
), ev AS (
  SELECT DISTINCT s FROM sh WHERE is_eval
)
SELECT sh.doc_id, COUNT(*) AS n_shared
FROM sh JOIN ev USING (s)
WHERE NOT sh.is_eval
GROUP BY sh.doc_id
"""

ORACLE_OVERLAP = f"""
WITH postings AS (
  SELECT DISTINCT source, s FROM (
    SELECT source, unnest({_O_SH}) AS s FROM documents
  )
)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared_shingles
FROM postings a JOIN postings b ON a.s = b.s AND a.source < b.source
GROUP BY a.source, b.source
"""
