"""media_video_neardup (the video codec of multimodal/neardup.py) —
perceptual matching over the decoded AVI temporal envelope.

Value parity vs the DuckDB law oracle runs in test_oracle_parity.py;
this file pins what parity can't see:

- the law luminances survive the REAL container round trip for both
  frames-per-window classes (frame-rate invariance: a 72-frame and a
  144-frame video pool to identical envelope cells),
- the cells come FROM THE DECODED BYTES: corrupting a frame byte
  changes the decoded frame, truncation refuses loudly,
- a BGR/RGB channel swap would move the pooled R cells (the +85/+170
  channel offsets make R != B),
- the banded plan stays bucketed (no CartesianProduct / BNLJ).
"""

from __future__ import annotations

import numpy as np
import pytest
from neardup_helpers import assert_banded_plan, banded_pairs, sample_fps
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.multimodal import neardup
from aliyun_emapreduce_datasources_spark.multimodal.avi import decode_avi

VIDEO = neardup.CODECS["video"]


def test_banded_plan_never_all_pairs(spark, sf_dir):
    assert_banded_plan(spark, sf_dir, "video")


def test_law_cells_survive_container_roundtrip(spark):
    df = spark.range(12).select(F.col("id").alias("doc_id"))
    media = neardup.attach(df, "doc_id", VIDEO)
    rows = media.select("media_id", "payload", "meta").collect()
    for r in rows:
        frames, fps = decode_avi(bytes(r["payload"]))
        assert fps == neardup.FPS
        fpw = r["media_id"] % 2 + 1
        assert frames.shape == (72 * fpw, neardup.FRAME_H, neardup.FRAME_W, 3)
        # channel offsets present: R != G != B on the decoded frames
        assert frames[0, 0, 0, 1] == (int(frames[0, 0, 0, 0]) + 85) % 256
        assert frames[0, 0, 0, 2] == (int(frames[0, 0, 0, 0]) + 170) % 256
    out = {
        r["media_id"]: r["cells"]
        for r in neardup.dhash_cells(media, VIDEO).collect()
    }
    assert len(out) == 12
    for mid, cells in out.items():
        assert cells == neardup.law_cells(VIDEO, mid).tolist(), mid


def test_cells_come_from_decoded_bytes(spark):
    df = spark.range(1).select(F.col("id").alias("doc_id"))
    row = neardup.attach(df, "doc_id", VIDEO).collect()[0]
    payload = bytearray(row["payload"])
    base, _ = decode_avi(bytes(payload))
    # movi frame data sits near the end; flip a byte inside the last
    # frame's pixel data (well after the headers)
    payload[-10] ^= 0x55
    corrupted, _ = decode_avi(bytes(payload))
    assert not np.array_equal(corrupted, base)
    with pytest.raises(ValueError):
        decode_avi(bytes(payload[:100]))


def test_neardup_pairs_cross_frame_rate_classes(spark, sf_dir):
    pairs = banded_pairs(sample_fps(spark, sf_dir, "video"))
    assert pairs, "fixture produced no near-dup pairs — vacuous test"
    assert all(h <= neardup.MAX_HAMMING for _, _, h in pairs)
    # a 72-frame video must match a 144-frame near-twin (id parity
    # differs -> different frames-per-window)
    assert any(a % 2 != b % 2 for a, b, _ in pairs)
