"""Streaming MinHash near-dup-on-ingest (streaming/ingest.NearDupIngest)
— the shingle-Jaccard member of the ingest-dedup family.

Pins: cross-batch near-dups are rejected through the (band, bucket)
index with exact-Jaccard verification; in-batch clusters keep the
minimum doc_id (the batch pipeline's keeper rule); replays are
idempotent (in-memory guard AND state-anti-join after restart-like
loss); and the store-level INVARIANT — no two accepted docs both
share an LSH bucket and have Jaccard >= tau — checked by running the
batch operator's own candidate+verify machinery over the accepted
corpus and expecting zero pairs.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.streaming.ingest import NearDupIngest

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

# 20 words -> 18 3-shingles each; ONE changed word kills <= 3 shingles
# (J ~ 15/21 = 0.71 >= tau) while three changed words kill ~9
# (J ~ 0.33 < tau) — B and D each differ from A by one word at
# different positions, C/E share nothing with them
_A = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills tonight and stars appear"
_B = "the quick brown fox jumps over the lazy cat while rain falls on the quiet hills tonight and stars appear"
_D = "the quick brown fox jumps over the lazy dog while snow falls on the quiet hills tonight and stars appear"
_C = "completely different subject matter covering databases query engines and distributed shuffle execution plans entirely"
_E = "another unrelated passage about harvesting apples in late september orchards under a pale morning sky"


def _write_chunk(d: str, idx: int, rows: list[tuple[int, str]]) -> None:
    p = os.path.join(d, f"c{idx:04d}.json")
    with open(p, "w") as fh:
        fh.write("\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows))
    os.utime(p, (1_700_000_000 + idx, 1_700_000_000 + idx))


def test_neardup_ingest_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # chunk 0: A(1) and its in-batch near-dup B(2) -> keep 1 only
    _write_chunk(src, 0, [(1, _A), (2, _B)])
    # chunk 1: D(10) is a near-dup of accepted A (one word differs,
    # J ~ 0.71) -> rejected through the history index; C(11) is new
    _write_chunk(src, 1, [(10, _D), (11, _C)])
    # chunk 2: exact replay of A under a new id (30) -> rejected; E new
    _write_chunk(src, 2, [(30, _A), (31, _E)])

    sink = NearDupIngest(str(tmp_path / "nd"), tau=0.5)
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName(f"nd_{uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    accepted = {r.doc_id for r in sink.accepted(spark).collect()}
    assert 1 in accepted and 11 in accepted and 31 in accepted
    assert 2 not in accepted  # in-batch cluster keeper is min doc_id
    assert 30 not in accepted  # exact cross-batch replay
    # D(10) has J ~ 0.71 vs accepted A(1): one word differs
    assert 10 not in accepted
    assert sink.reconcile(spark) == 0

    # idempotent replay: same batch id, in-memory guard
    sink(spark.createDataFrame([(1, _A)], DOCS_SCHEMA), 0)
    assert sink.accepted(spark).count() == len(accepted)
    # restart-like loss of the guard: the state anti-join still
    # prevents re-acceptance of an already-indexed doc_id
    sink.seen_batches.clear()
    sink(spark.createDataFrame([(1, _A)], DOCS_SCHEMA), 99)
    assert sink.accepted(spark).count() == len(accepted)
    # and a NEW id with an accepted text still dedups after the loss
    sink(spark.createDataFrame([(77, _A.upper().lower())], DOCS_SCHEMA), 100)
    assert sink.accepted(spark).count() == len(accepted)


def test_accepted_store_is_self_clean_under_banding_recall(spark, tmp_path):
    """The invariant: run the BATCH operator's candidate + verify
    machinery over the accepted corpus — zero pairs at tau. Uses a
    corpus with many near-dup groups arriving interleaved across
    batches."""
    from aliyun_emapreduce_datasources_spark.dedup.minhash import (
        _with_signatures,
        lsh_candidate_pairs,
    )

    words = [f"w{i}" for i in range(30)]
    docs = []
    for g in range(12):
        base = [words[(g * 7 + k) % 30] for k in range(20)]
        for v in range(4):  # 4 variants per group, v words changed
            t = list(base)
            for j in range(v):
                t[(5 * j + 3) % 20] = f"g{g}v{v}x{j}"
            docs.append((g * 10 + v, " ".join(t)))
    # interleave groups across 4 batches so near-dups cross batches
    batches = [docs[k::4] for k in range(4)]

    sink = NearDupIngest(str(tmp_path / "nd2"), tau=0.5)
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, DOCS_SCHEMA), i)

    accepted_ids = sink.accepted(spark).select("doc_id")
    full = spark.createDataFrame(docs, DOCS_SCHEMA)
    acc_docs = full.join(accepted_ids, "doc_id")
    with_sig = _with_signatures(acc_docs).persist()
    with_sig.count()
    sh_only = with_sig.select("doc_id", "sh")
    jac = F.size(F.array_intersect("a_sh", "b_sh")).cast("double") / F.size(
        F.array_distinct(F.concat("a_sh", "b_sh"))
    )
    dirty = (
        lsh_candidate_pairs(with_sig)
        .join(sh_only.withColumnsRenamed({"doc_id": "doc_a", "sh": "a_sh"}), "doc_a")
        .join(sh_only.withColumnsRenamed({"doc_id": "doc_b", "sh": "b_sh"}), "doc_b")
        .where(jac >= 0.5)
        .count()
    )
    with_sig.unpersist()
    assert dirty == 0
    # and the store actually deduplicated something
    assert sink.accepted(spark).count() < len(docs)
    assert sink.reconcile(spark) == 0
