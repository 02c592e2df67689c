"""``release_checkpoint``: counted releases, a failure that is counted
and logged once instead of swallowed, and the release order of
connected components' consumed edges."""

from __future__ import annotations

import logging

from aliyun_emapreduce_datasources_spark.dedup import clusters
from aliyun_emapreduce_datasources_spark.dedup.clusters import connected_components
from aliyun_emapreduce_datasources_spark.operators import common
from aliyun_emapreduce_datasources_spark.operators.common import (
    release_checkpoint,
    release_counts,
)


def test_release_counts_each_checkpoint_released(spark, monkeypatch):
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})
    a = spark.range(10).localCheckpoint()
    b = spark.range(5).localCheckpoint()
    release_checkpoint(a.union(b))
    assert release_counts() == {"released": 2, "failed": 0}


def test_release_failure_is_counted_and_logged_once(monkeypatch, caplog):
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})

    class NoPlan:  # a DataFrame whose plan introspection fails
        _jdf = None

    with caplog.at_level(logging.WARNING, logger=common.__name__):
        release_checkpoint(NoPlan())  # must not raise
        release_checkpoint(NoPlan())
    assert release_counts() == {"released": 0, "failed": 2}
    warnings = [r for r in caplog.records if "release_checkpoint failed" in r.getMessage()]
    assert len(warnings) == 1
    assert warnings[0].exc_info is not None


def test_consumed_edges_released_once_after_propagation(spark, monkeypatch):
    """Distributed components with ``consume_edges``: the persisted edge
    caches read the source checkpoint until the loop converges, so the
    source is released exactly once, after every round's release."""
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})
    # two chains (4 rounds to converge), a pair, two singletons
    edges_py = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (20, 21)]
    node_ids = sorted({x for e in edges_py for x in e} | {30, 31})
    nodes = spark.createDataFrame([(i,) for i in node_ids], ["doc_id"])
    schema = "doc_a bigint, doc_b bigint"
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(nodes, spark.createDataFrame(edges_py, schema)).collect()
    }

    source = spark.createDataFrame(edges_py, schema).localCheckpoint()
    calls = []

    def recording_release(df):
        before = release_counts()["released"]
        release_checkpoint(df)
        calls.append((df is source, release_counts()["released"] - before))

    monkeypatch.setattr(clusters, "release_checkpoint", recording_release)
    got = connected_components(nodes, source, small_graph_edges=0, consume_edges=True)
    assert {r["doc_id"]: r["cluster_id"] for r in got.collect()} == want

    assert [c for c in calls if c[0]] == [(True, 1)]  # once, one checkpoint
    assert calls[-1][0] and len(calls) > 1  # after every round's release
    assert release_counts() == {"released": len(calls), "failed": 0}
