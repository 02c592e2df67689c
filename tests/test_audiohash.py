"""media_audio_neardup (the audio codec of multimodal/neardup.py) —
perceptual near-dup over the decoded WAV time envelope.

Value parity vs the DuckDB law oracle runs in test_oracle_parity.py
like every catalog entry; this file pins what parity can't see:

- the law amplitudes survive the REAL container round trip for every
  window-length class (the duration-invariance leg: different ids
  carry different-length WAVs but pool to identical envelope cells),
- the hash comes FROM THE DECODED BYTES: corrupting PCM bytes changes
  the cells, truncation refuses loudly,
- the engine's dhash64 bit layout and the oracle's (k//9)*8 + (k%9)
  arithmetic agree — pinned directly on a crafted cell array,
- the banded plan stays bucketed (no CartesianProduct / BNLJ).
"""

from __future__ import annotations

import pytest
from neardup_helpers import assert_banded_plan, banded_pairs, sample_fps
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.multimodal import neardup
from aliyun_emapreduce_datasources_spark.multimodal.wav import decode_wav

AUDIO = neardup.CODECS["audio"]


def test_banded_plan_never_all_pairs(spark, sf_dir):
    assert_banded_plan(spark, sf_dir, "audio")


def test_law_cells_survive_container_roundtrip(spark):
    """Attach → REAL decode → pool recovers the amplitude law exactly
    for every window-length class (40/60/80 samples)."""
    df = spark.range(12).select(F.col("id").alias("doc_id"))
    media = neardup.attach(df, "doc_id", AUDIO)
    rows = media.select("media_id", "payload", "meta").collect()
    for r in rows:
        pcm, sr = decode_wav(bytes(r["payload"]))
        assert sr == neardup.SR
        win = neardup._WIN_CHOICES[r["media_id"] % 3]
        assert pcm.shape == (72 * win, 1)
        assert r["meta"]["duration_ms"] == 72 * win * 1000 // neardup.SR
    out = {
        r["media_id"]: r["cells"]
        for r in neardup.dhash_cells(media, AUDIO).collect()
    }
    assert len(out) == 12
    for mid, cells in out.items():
        assert cells == neardup.law_cells(AUDIO, mid).tolist(), mid


def test_hash_comes_from_decoded_bytes(spark):
    """Flipping a PCM sample byte changes the decoded envelope —
    proof the pipeline reads the BYTES, not the law; truncation
    refuses loudly."""
    df = spark.range(1).select(F.col("id").alias("doc_id"))
    row = neardup.attach(df, "doc_id", AUDIO).collect()[0]
    payload = bytearray(row["payload"])
    base, _ = decode_wav(bytes(payload))
    # byte 45 is the high byte of sample 0 (44-byte canonical header)
    payload[45] ^= 0x40
    corrupted, _ = decode_wav(bytes(payload))
    assert corrupted[0, 0] != base[0, 0]
    with pytest.raises(ValueError):
        decode_wav(bytes(payload[:50]))


def test_bit_layout_matches_oracle_arithmetic(spark):
    """Craft a cell array with exactly one gradient set and check
    dhash64 puts it at bit (k//9)*8 + (k%9) — the oracle's formula."""
    for k in (0, 7, 9, 43, 61, 70):  # left cell k, requires k%9 < 8
        cells = [0] * 72
        cells[k + 1] = 1  # single rising gradient at position k
        df = spark.createDataFrame([(1, cells)], "media_id long, cells array<int>")
        h = df.select(neardup.dhash64(F.col("cells")).alias("h")).collect()[0]["h"]
        expect_bits = {(k // 9) * 8 + (k % 9)}
        # the crafted array also sets the falling edge back to 0 at
        # k+1 -> k+2 only if k+2 exists in the same row — a falling
        # edge never sets a bit (strict >), so exactly one bit is set.
        # Compare unsigned: bit 63 makes the signed long negative.
        assert (h & ((1 << 64) - 1)) == sum(1 << b for b in expect_bits), (
            k,
            bin(h),
        )


def test_neardup_pairs_exist_and_respect_cut(spark, sf_dir):
    pairs = banded_pairs(sample_fps(spark, sf_dir, "audio"))
    assert pairs, "fixture produced no near-dup pairs — vacuous test"
    assert all(h <= neardup.MAX_HAMMING for _, _, h in pairs)
    # different window-length classes must still match (duration
    # invariance): some pair crosses id%3 classes
    assert any(a % 3 != b % 3 for a, b, _ in pairs)
