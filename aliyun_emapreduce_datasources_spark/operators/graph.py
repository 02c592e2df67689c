"""Iterative graph analytics over relational data: PageRank on the
part co-purchase graph.

Beyond the connected-components resolution in ``dedup/clusters.py``,
this is the second iterative-algorithm family a corpus/warehouse user
runs: build a graph FROM relational facts (parts co-occurring in the
same order — the same in-row basket expansion as
``operators/analytic.py market_basket_lift``, no postings self-join),
then rank nodes by K damped power-iteration steps.

Determinism: ranks are BIGINT at scale 1e12 with floor division at
every step — integer sums are accumulation-order-free, so Spark and
the unrolled-CTE DuckDB oracle agree byte-for-byte (the float form of
PageRank would diverge across engines by summation order alone).

Scale shape (100 TB): the graph is materialized ONCE as a
vertex-sized adjacency table (``src``, out-neighbor array, degree;
``localCheckpoint`` truncates lineage so K iterations don't re-scan
lineitem K times). Each iteration is then a |V|×|V| join (ranks ⋈
adjacency on ``src`` — co-located after the first shuffle on a real
cluster) + in-row explode + the one unavoidable edge-sized
contribution shuffle into vertex-sized ranks. N (node count) is one
scalar aggregate collected to the driver, like the convergence scalar
in dedup/clusters.py.

Reference tie-in: the reference has no graph operator — this is a
"beyond the reference" entry in the training-data/analytics extension
family (SURVEY.md §7.8), built Spark-first (declarative joins, fixed
unrolled K, no RDD loops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import t

__all__ = ["QUERIES", "ORACLES", "graph_pagerank"]

SCALE = 10**12
ITERS = 3
DAMP_NUM, DAMP_DEN = 85, 100  # 0.85 damping as exact integer ratio
TOP_K = 20


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by 3-step damped PageRank over the co-purchase
    graph (distinct part pairs sharing an order, both directions, so
    the graph is symmetric and has no dangling nodes)."""
    li = t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set(F.col("l_partkey").cast("long")).alias("parts")
    )
    # in-row pair expansion: no |lineitem| x |lineitem| self-join.
    # Expand only ORDERED pairs (x < y) and mirror after the distinct:
    # the dedup shuffle then carries half the pair volume (measured
    # ~2.4M distinct edges from ~20M raw pairs at sf0.1 — the distinct
    # is the dominant cost of the whole operator).
    half = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, x -> "
                    "transform(filter(parts, y -> y > x), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # fold degree + out-neighbor list into ONE vertex-sized adjacency
    # table, materialized once: each iteration is then a vertex×vertex
    # join (ranks ⋈ adjacency, both |V|-sized) + explode + the
    # unavoidable edge-sized contribution shuffle — instead of two
    # edge×vertex joins per step. Adjacency arrays are bounded by a
    # node's distinct co-purchase degree; a pathological hot node at
    # 100 TB would be capped/chunked upstream (same guard family as
    # operators/skew.py), noted rather than paid here.
    adj = (
        edges.groupBy("src")
        .agg(F.collect_list("dst").alias("dsts"), F.count("*").alias("d"))
        .persist()
    )
    n = adj.count()  # scalar: vertex cardinality (driver-safe)
    base = (DAMP_DEN - DAMP_NUM) * (SCALE // n) // DAMP_DEN

    ranks = adj.select(F.col("src").alias("node"), F.lit(SCALE // n).cast("long").alias("r"))
    for _ in range(ITERS):
        contrib = (
            adj.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.explode("dsts").alias("dst"), F.expr("r DIV d").alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.expr(f"({DAMP_NUM} * s) DIV {DAMP_DEN}")).cast("long").alias("r"),
            )
        )
    return (
        ranks.orderBy(F.col("r").desc(), F.col("node"))
        .limit(TOP_K)
        .select(F.col("node").alias("part_key"), F.col("r").alias("rank_scaled"))
    )


ORACLE_PAGERANK = f"""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
), nn AS (
  SELECT COUNT(*) AS n FROM deg
), consts AS (
  SELECT n, {SCALE} // n AS r0,
         ({DAMP_DEN - DAMP_NUM} * ({SCALE} // n)) // {DAMP_DEN} AS base
  FROM nn
), r0 AS (
  SELECT deg.src AS node, consts.r0 AS r FROM deg CROSS JOIN consts
), r1 AS (
  SELECT e.dst AS node,
         ANY_VALUE(c.base) + ({DAMP_NUM} * SUM(r0.r // deg.d)) // {DAMP_DEN} AS r
  FROM edges e
  JOIN r0 ON e.src = r0.node
  JOIN deg ON e.src = deg.src
  CROSS JOIN consts c
  GROUP BY e.dst
), r2 AS (
  SELECT e.dst AS node,
         ANY_VALUE(c.base) + ({DAMP_NUM} * SUM(r1.r // deg.d)) // {DAMP_DEN} AS r
  FROM edges e
  JOIN r1 ON e.src = r1.node
  JOIN deg ON e.src = deg.src
  CROSS JOIN consts c
  GROUP BY e.dst
), r3 AS (
  SELECT e.dst AS node,
         ANY_VALUE(c.base) + ({DAMP_NUM} * SUM(r2.r // deg.d)) // {DAMP_DEN} AS r
  FROM edges e
  JOIN r2 ON e.src = r2.node
  JOIN deg ON e.src = deg.src
  CROSS JOIN consts c
  GROUP BY e.dst
)
SELECT CAST(node AS BIGINT) AS part_key, CAST(r AS BIGINT) AS rank_scaled
FROM r3
ORDER BY rank_scaled DESC, part_key
LIMIT {TOP_K}
"""


QUERIES = {"graph_pagerank": graph_pagerank}
ORACLES = {"graph_pagerank": ORACLE_PAGERANK}
