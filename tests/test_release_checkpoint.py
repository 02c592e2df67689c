"""``release_checkpoint``: counted releases, a failure that is counted
and logged once instead of swallowed, the release order of connected
components' consumed edges, the releases of the scrub fixpoint and BPE
merge loops, and the per-batch checkpoints of the ingest sinks."""

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

    # the source is released by clusters, each round's labels by
    # common.checkpoint_step
    monkeypatch.setattr(clusters, "release_checkpoint", recording_release)
    monkeypatch.setattr(common, "release_checkpoint", recording_release)
    got = connected_components(nodes, source, small_graph_edges=0, consume_edges=True)
    assert {r["doc_id"]: r["cluster_id"] for r in got.collect()} == want

    assert [c for c in calls if c[0]] == [(True, 1)]  # once, one checkpoint
    assert calls[-1][0] and len(calls) > 1  # after every round's release
    assert release_counts() == {"released": len(calls), "failed": 0}


def _count_checkpoints(spark, monkeypatch) -> list:
    """Record every ``localCheckpoint`` call made from now on."""
    made = []
    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    real = cls.localCheckpoint

    def counting(self, *args, **kwargs):
        made.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    return made


def test_scrub_fixpoint_releases_every_pass_but_the_last(spark, monkeypatch, tmp_path):
    """Each scrub pass checkpoints its output and releases the previous
    pass's checkpoint, so a loop of N passes releases N-1; the last one
    backs the result, which stays readable."""
    from aliyun_emapreduce_datasources_spark.dedup.spans import scrub_spans_fixpoint

    rows = [  # pass 2 catches the bridge pass 1 creates; pass 3 confirms
        (0, "a b c d", "en", "s0", 7),
        (1, "r1 r2 r3", "en", "s0", 8),
        (2, "a b r1 r2 r3 c d", "en", "s1", 16),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})
    passes = _count_checkpoints(spark, monkeypatch)
    out = scrub_spans_fixpoint(spark, str(tmp_path))

    assert len(passes) == 3
    assert release_counts() == {"released": len(passes) - 1, "failed": 0}
    want = {0: ("a b c d", 0), 1: ("r1 r2 r3", 0), 2: ("", 7)}
    for _ in range(2):  # twice: the result's checkpoint was not released
        assert {r.doc_id: (r.clean_text, r.n_removed) for r in out.collect()} == want


def test_bpe_train_releases_every_materialized_checkpoint(spark, monkeypatch):
    """Every checkpoint the merge loop materializes is released exactly
    once by the time ``train_merges`` returns, and the merges match a
    plain-Python ``merge_word`` replay."""
    from test_bpe_train import py_bpe

    from aliyun_emapreduce_datasources_spark.functions.bpe_train import train_merges

    word_counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(list(word_counts.items()), "w string, cnt long")
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})
    made = _count_checkpoints(spark, monkeypatch)
    merges = train_merges(words, 4)

    assert len(made) == 4  # one per merge step, each materialized by its pair count
    assert release_counts() == {"released": len(made), "failed": 0}
    assert merges == py_bpe(word_counts, 4)


def _ingest_two_batches(spark, monkeypatch, sink, batches, schema) -> list[dict]:
    """Feed ``batches`` to a foreachBatch sink directly, recording the
    release counts after each one."""
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})
    counts = []
    for batch_id, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), batch_id)
        counts.append(release_counts())
    return counts


def test_embedding_ingest_releases_each_batch_checkpoint(spark, monkeypatch, tmp_path):
    import numpy as np

    from aliyun_emapreduce_datasources_spark.streaming.ingest import EmbeddingIngest

    rng = np.random.default_rng(7)
    a, b, c = (rng.standard_normal(64) for _ in range(3))

    def vec(v, jitter=0.0):
        return [float(x) for x in v + jitter * rng.standard_normal(64)]

    sink = EmbeddingIngest(str(tmp_path / "emb"), tau=0.95)
    counts = _ingest_two_batches(
        spark,
        monkeypatch,
        sink,
        [[(1, vec(a)), (2, vec(a, 0.01)), (3, vec(b))], [(10, vec(a, 0.005)), (12, vec(c))]],
        "vec_id long, embedding array<float>",
    )

    assert counts[0]["released"] >= 1 and counts[1]["released"] >= counts[0]["released"] + 1
    assert counts[1]["failed"] == 0
    assert sorted((r.vec_id, r.batch_id) for r in sink.accepted(spark).collect()) == [
        (1, 0),
        (3, 0),
        (12, 1),
    ]


def test_neardup_ingest_releases_each_accepted_checkpoint(spark, monkeypatch, tmp_path):
    from test_neardup_ingest import _A, _B, _C, _D

    from aliyun_emapreduce_datasources_spark.streaming.ingest import NearDupIngest

    sink = NearDupIngest(str(tmp_path / "nd"), tau=0.5)
    # batch 0: B is an in-batch near-dup of A; batch 1: D is a near-dup
    # of the accepted A, C is new
    counts = _ingest_two_batches(
        spark,
        monkeypatch,
        sink,
        [[(1, _A), (2, _B)], [(10, _D), (11, _C)]],
        "doc_id long, text string",
    )

    assert counts[0]["released"] >= 1 and counts[1]["released"] >= counts[0]["released"] + 1
    assert counts[1]["failed"] == 0
    assert sorted((r.doc_id, r.batch_id) for r in sink.accepted(spark).collect()) == [
        (1, 0),
        (11, 1),
    ]
