"""Helpers shared by the four per-codec near-dup test files
(test_imagehash, test_mixed_neardup, test_audiohash, test_videohash)
of multimodal/neardup.py."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup.simhash import simhash_candidates
from aliyun_emapreduce_datasources_spark.multimodal import neardup
from aliyun_emapreduce_datasources_spark.operators.common import t


def assert_banded_plan(spark, sf_dir, codec: str) -> None:
    """No CartesianProduct / BNLJ: the pair join is never all-pairs.
    materialize=False: the catalog path persists and materializes,
    which would reduce the inspected plan to a cache scan."""
    df = neardup.neardup_pairs(spark, sf_dir, neardup.CODECS[codec], materialize=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def sample_fps(spark, sf_dir, codec: str, limit: int = 120):
    """(media_id, simhash) over the first ``limit`` documents through
    the two-stage attach → decode path."""
    c = neardup.CODECS[codec]
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id")
        .limit(limit)
    )
    return neardup.dhash_cells(neardup.attach(docs, "doc_id", c), c).select(
        "media_id", neardup.dhash64(F.col("cells")).alias("simhash")
    )


def banded_pairs(fps) -> set[tuple[int, int, int]]:
    return {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_candidates(fps, id_col="media_id").collect()
    }
