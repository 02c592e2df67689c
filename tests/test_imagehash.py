"""media_image_neardup (the image codec of multimodal/neardup.py) — the
dHash entry tying the real BMP codec to the dedup block-join machinery.

Value parity vs the DuckDB law oracle runs in test_oracle_parity.py
like every catalog entry; this file pins what parity can't see:

- the BANDED plan shape (no CartesianProduct / BNLJ — never all-pairs),
- that the hash really comes FROM THE DECODE: corrupting container
  bytes (a flipped pixel byte, a truncated file) changes the hash or
  refuses loudly — i.e. the entry cannot be right by synthesizing
  cells from the law engine-side,
- the exact-recall pigeonhole contract: banded candidates at
  hamming <= 3 equal brute-force all-pairs on the same hash set,
- the resize leg: per-image scale factors change the container bytes
  but never the pooled cells.
"""

from __future__ import annotations

import numpy as np
import pytest
from neardup_helpers import assert_banded_plan, banded_pairs, sample_fps
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.multimodal import neardup
from aliyun_emapreduce_datasources_spark.multimodal.bmp import decode_bmp

IMAGE = neardup.CODECS["image"]


def test_banded_plan_never_all_pairs(spark, sf_dir):
    assert_banded_plan(spark, sf_dir, "image")


def test_law_cells_survive_container_roundtrip(spark):
    """Attach → REAL decode → pool recovers the law cells exactly for
    every (sx, sy) scale class — the resize leg of a real dHash is
    exercised even though the oracle never models it."""
    df = spark.range(12).select(F.col("id").alias("doc_id"))
    media = neardup.attach(df, "doc_id", IMAGE)
    out = {
        r["media_id"]: r["cells"]
        for r in neardup.dhash_cells(media, IMAGE).collect()
    }
    assert len(out) == 12
    for mid, cells in out.items():
        assert cells == neardup.law_cells(IMAGE, mid).tolist(), mid


def test_hash_comes_from_decoded_bytes(spark):
    """Flipping one pixel byte in the container changes the decoded
    cells (and with them the hash) — proof the pipeline reads the
    BYTES, not the law."""
    df = spark.range(1).select(F.col("id").alias("doc_id"))
    row = neardup.attach(df, "doc_id", IMAGE).collect()[0]
    payload = bytearray(row["payload"])
    base = decode_bmp(bytes(payload))
    # flip the R channel of the top-left decoded pixel: BMP rows are
    # bottom-up, R is byte 2 of the BGR triple at the start of the
    # LAST stored row
    h, w = base.shape[:2]
    stride = (w * 3 + 3) & ~3
    off = 54 + (h - 1) * stride + 2
    payload[off] = (payload[off] + 128) % 256
    corrupted = decode_bmp(bytes(payload))
    assert corrupted[0, 0, 0] != base[0, 0, 0]
    assert not np.array_equal(corrupted, base)
    # truncation refuses loudly rather than hashing garbage
    with pytest.raises(ValueError):
        decode_bmp(bytes(payload[: off - 1]))


def test_pigeonhole_banded_equals_bruteforce(spark, sf_dir):
    """At MAX_HAMMING = 3 with 4 x 16-bit blocks the banded join is
    EXACT: compare against brute-force all-pairs hamming over the same
    fingerprints (test-only collect — the entry itself never does
    this)."""
    fps = sample_fps(spark, sf_dir, "image")
    rows = {r["media_id"]: r["simhash"] for r in fps.collect()}
    brute = set()
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1")
            if d <= neardup.MAX_HAMMING:
                brute.add((a, b, d))
    assert banded_pairs(fps) == brute
    assert brute, "fixture produced no near-dup pairs — vacuous test"
