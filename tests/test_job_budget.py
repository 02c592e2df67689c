"""Per-entry Spark job budget for the dedup pair pipelines and their
consumers: a new eager action (a spare count, an extra checkpoint, a
collect) or a lost one shows up here as a diff.

Each entry is built and then written to ``noop`` under a job group of
its own; the pin is (jobs run while building, jobs run in total). The
counts are what the entries run at sf0.001 and repeat exactly across a
cold and a warm pass on the same session.
"""

from __future__ import annotations

import uuid

import pytest

from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES

BUDGET = {  # entry: (build jobs, build + noop write jobs)
    "dedup_minhash_lsh": (12, 13),
    "dedup_ngram_jaccard": (7, 8),
    "dedup_containment": (8, 9),
    "dedup_simhash": (8, 9),
    "dedup_winnow_fingerprint": (19, 20),
    # the media result is a checkpoint like the others' (it was a
    # persist + count, two jobs more)
    "media_image_neardup": (10, 11),
    "media_audio_neardup": (10, 11),
    "dedup_minhash_clusters": (14, 20),
    "dedup_cluster_resolve": (9, 15),
}


def _jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_entry_job_budget(spark, sf_dir, name):
    sc = spark.sparkContext
    group = f"job-budget-{name}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, name)
    try:
        df = QUERIES[name](spark, sf_dir)
        built = _jobs(spark, group)
        df.write.format("noop").mode("overwrite").save()
        total = _jobs(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    assert (built, total) == BUDGET[name]
