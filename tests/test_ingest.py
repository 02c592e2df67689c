"""Incremental curation ingest: streaming micro-batches through
CurationIngest must end at exactly the batch-curated answer —
cross-batch duplicates dropped, quality gate applied, replays
idempotent."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.functions.text import normalize_ws
from aliyun_emapreduce_datasources_spark.streaming.ingest import (
    CurationIngest,
    EmbeddingIngest,
    NearDupIngest,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _write_chunk(d: str, idx: int, rows: list[tuple[int, str]]) -> None:
    p = os.path.join(d, f"c{idx:04d}.json")
    with open(p, "w") as fh:
        fh.write("\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows))
    os.utime(p, (1_700_000_000 + idx, 1_700_000_000 + idx))


def test_streaming_curation_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # duplicates across chunks (21 vs 1 same text; 32 vs 12 differs only
    # in whitespace/case -> same normalized form), plus a too-short doc
    _write_chunk(src, 0, [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five six")])
    _write_chunk(src, 1, [(21, "alpha beta gamma delta epsilon"), (12, "Seven  Eight nine TEN eleven")])
    _write_chunk(src, 2, [(32, "seven eight nine ten ELEVEN"), (33, "too short"), (34, "fresh words appear here now")])

    sink = CurationIngest(str(tmp_path / "curated"), min_tokens=5)
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName(f"ing_{uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.doc_id, r.norm_text) for r in sink.curated(spark).collect()
    }
    # batch answer: normalize, gate >=5 tokens, keep-first per digest
    # (chunk order == doc_id order here for cross-batch pairs)
    assert got == {
        (1, "alpha beta gamma delta epsilon"),
        (2, "one two three four five six"),
        (12, "seven eight nine ten eleven"),
        (34, "fresh words appear here now"),
    }
    assert sink.reconcile(spark) == 0

    # replayed batch is a no-op (idempotent-by-batchId)
    batch0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], DOCS_SCHEMA
    )
    sink(batch0, 0)
    assert sink.curated(spark).count() == 4

    # a NEW batch with an already-seen text dedups against history even
    # after restart-like state loss
    sink.seen_batches.clear()
    sink(spark.createDataFrame([(99, "ALPHA beta gamma delta epsilon")], DOCS_SCHEMA), 7)
    assert sink.curated(spark).count() == 4
    assert sink.reconcile(spark) == 0


def test_embedding_ingest_rejects_near_dups_across_batches(spark, tmp_path):
    """Semantic dedup-on-ingest: exact/near duplicates of accepted
    history (and of earlier same-batch rows) are rejected; novel
    directions are accepted; replays are no-ops."""
    import numpy as np

    rng = np.random.default_rng(7)

    def vec(seed_vec, jitter=0.0):
        v = seed_vec + jitter * rng.standard_normal(64)
        return [float(x) for x in v]

    a = rng.standard_normal(64)
    b = rng.standard_normal(64)
    c = rng.standard_normal(64)

    schema = "vec_id long, embedding array<float>"
    sink = EmbeddingIngest(str(tmp_path / "emb"), tau=0.95)
    # batch 0: a, near-dup of a (same batch), b
    sink(spark.createDataFrame(
        [(1, vec(a)), (2, vec(a, 0.01)), (3, vec(b))], schema), 0)
    # batch 1: near-dup of a (history), exact b (history), novel c
    sink(spark.createDataFrame(
        [(10, vec(a, 0.005)), (11, vec(b)), (12, vec(c))], schema), 1)

    got = sorted(r.vec_id for r in sink.accepted(spark).collect())
    assert got == [1, 3, 12], got

    # replay of batch 1 is a no-op
    sink(spark.createDataFrame([(99, vec(c))], schema), 1)
    assert sorted(r.vec_id for r in sink.accepted(spark).collect()) == [1, 3, 12]


def _files(root: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


def test_unreadable_history_raises_instead_of_deduping_against_nothing(spark, tmp_path):
    """A history store that exists but cannot be read (here a corrupt
    footer) fails the batch: treating it as "no history yet" would
    accept the batch's duplicates of everything already stored."""
    cases = [
        (CurationIngest, ["digests"], [(1, "alpha beta gamma delta epsilon")], DOCS_SCHEMA),
        (
            EmbeddingIngest,
            ["accepted"],
            [(1, [float(i % 7) - 3.0 for i in range(64)])],
            "vec_id long, embedding array<float>",
        ),
        (
            NearDupIngest,
            ["sigs", "shingles", "docs"],
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        ),
    ]
    for cls, stores, rows, schema in cases:
        root = str(tmp_path / cls.__name__)
        sink = cls(root)
        for store in stores:
            os.makedirs(os.path.join(root, store))
            with open(os.path.join(root, store, "part-0.parquet"), "wb") as fh:
                fh.write(b"not a parquet file")
        before = _files(root)
        with pytest.raises(Exception, match="not a Parquet file"):
            sink(spark.createDataFrame(rows, schema), 0)
        assert _files(root) == before, cls.__name__
    spark.catalog.clearCache()
