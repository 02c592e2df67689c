"""media_mixed_neardup (the mixed codec of multimodal/neardup.py) —
cross-container dHash near-dup over magic-byte decode dispatch
(BMP / PNG / JPEG).

Value parity vs the format-blind DuckDB law oracle runs in
test_oracle_parity.py like every catalog entry; this file pins what
parity can't see:

- all THREE container formats actually occur in the attach output and
  each decodes (through the dispatch) to the SAME law cells — the
  invariant that makes the oracle format-blind,
- the JPEG leg is genuinely lossy machinery run in its integer-exact
  corner (the container is a real Huffman-coded scan, not a PNG in
  disguise),
- the dispatch reads MAGIC BYTES, refusing unknown prefixes loudly —
  metadata is never trusted,
- near-dup pairs CROSS the container boundary (a BMP matches a JPEG),
- the banded plan shape stays bucketed (no CartesianProduct / BNLJ).
"""

from __future__ import annotations

import numpy as np
import pytest
from neardup_helpers import assert_banded_plan, banded_pairs, sample_fps
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.multimodal import media, neardup
from aliyun_emapreduce_datasources_spark.multimodal.jpeg import decode_jpeg

MIXED = neardup.CODECS["mixed"]


def test_banded_plan_never_all_pairs(spark, sf_dir):
    assert_banded_plan(spark, sf_dir, "mixed")


def test_all_three_formats_decode_to_the_same_law(spark):
    """ids 0..11 cover every (format, scale) class; whatever container
    an id landed in, the dispatch + pool recovers the law cells
    exactly — including the lossy-JPEG leg."""
    df = spark.range(12).select(F.col("id").alias("doc_id"))
    media = neardup.attach(df, "doc_id", MIXED)
    rows = media.select("media_id", "payload", "meta").collect()
    fmts = {r["meta"]["format"] for r in rows}
    assert fmts == {"bmp", "png", "jpeg"}
    for r in rows:
        blob = bytes(r["payload"])
        expect_fmt = neardup._FORMATS[r["media_id"] % 3]
        assert r["meta"]["format"] == expect_fmt
        magic = {"bmp": b"BM", "png": b"\x89PNG", "jpeg": b"\xff\xd8"}[expect_fmt]
        assert blob[: len(magic)] == magic
    out = {
        r["media_id"]: r["cells"]
        for r in neardup.dhash_cells(media, MIXED).collect()
    }
    assert len(out) == 12
    for mid, cells in out.items():
        assert cells == neardup.law_cells(MIXED, mid).tolist(), mid


def test_jpeg_leg_is_real_huffman_machinery():
    """The JPEG container must be genuinely entropy-coded: decoding it
    runs DC prediction over 72 MCUs, and perturbing one scan byte
    either changes pixels or refuses — it is not a disguised raw
    dump. (id 2 is the first JPEG id.)"""
    cells = neardup.law_cells(MIXED, 2).reshape(neardup.CH, neardup.CW)
    px = (
        cells.repeat(neardup._JPEG_SCALE, axis=0)
        .repeat(neardup._JPEG_SCALE, axis=1)
        .astype(np.uint8)
    )
    from aliyun_emapreduce_datasources_spark.multimodal.jpeg import encode_jpeg

    blob = encode_jpeg(px, quant_luma=neardup._JPEG_Q16)
    np.testing.assert_array_equal(decode_jpeg(blob), px)
    # the compressed scan is far smaller than the raw plane — real
    # entropy coding, and nowhere near a stored-pixel container
    assert len(blob) < px.size // 4
    corrupted = bytearray(blob)
    corrupted[-20] ^= 0x55  # inside the entropy scan
    try:
        out = decode_jpeg(bytes(corrupted))
        assert not np.array_equal(out, px)
    except ValueError:
        pass  # loud refusal is equally acceptable


def test_dispatch_refuses_unknown_magic():
    with pytest.raises(ValueError, match="unknown container magic"):
        media._decode_any(b"GIF89a" + b"\x00" * 64)
    with pytest.raises(ValueError, match="unknown container magic"):
        media._decode_any(b"\x00")


def test_neardup_pairs_cross_the_container_boundary(spark, sf_dir):
    """The point of the entry: a pair whose members live in DIFFERENT
    container formats. Groups of 5 consecutive ids span formats
    (id % 3 cycles), so low-variant near-dups must cross."""
    pairs = banded_pairs(sample_fps(spark, sf_dir, "mixed"))
    assert pairs, "fixture produced no near-dup pairs — vacuous test"
    cross = [(a, b) for a, b, _ in pairs if a % 3 != b % 3]
    assert cross, "no pair crossed the container boundary"
    assert all(h <= neardup.MAX_HAMMING for _, _, h in pairs)
