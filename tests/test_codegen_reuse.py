"""The package session compiles each query shape once.

Spark keeps the classes it generates and compiles with Janino in an LRU
cache (``spark.sql.codegen.cache.maxEntries``, default 100). A session
that replays a working set of shapes larger than the cache misses on
every class, every round; ``session.get_session`` sizes the cache to
``CODEGEN_CACHE_ENTRIES`` so a replay compiles nothing.
"""

from __future__ import annotations

import bench
from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES

# about 190 generated classes at sf0.001 (a fresh session compiles them
# in about 4 s on a 4-core host); with Spark's default cache the second
# round recompiled 189 of them
ENTRIES = ("emb_contrastive_triplets", "sketch_cms_topk", "eval_auc_binary", "pareto_revenue")


def _round(spark, sf_dir: str) -> int:
    """Run every entry into the noop sink; the Janino compilations."""
    c0 = bench.compile_count(spark)
    for name in ENTRIES:
        bench.noop(QUERIES[name](spark, sf_dir))
        spark.catalog.clearCache()
    return bench.compile_count(spark) - c0


def test_second_round_compiles_nothing(spark, sf_dir):
    """With AQE on, a re-optimization can see a different set of
    finished stages from one run to the next and pick another plan: a
    few new classes per round (0-8 per entry seen). Both rounds run
    with AQE off, so every class the second round needs is one the
    first round compiled."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _round(spark, sf_dir)
        assert _round(spark, sf_dir) == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
