"""Perceptual near-duplicate detection over decoded media — one
pipeline, four codecs (the ``CODECS`` table: image, mixed, audio,
video), each a catalog entry ``media_<codec>_neardup``.

Pipeline (the 100 TB shape, identical for every codec):

1. **Synth + decode + pool (map-side, one fused pass).** Each document
   gets a GENUINE container whose decoded content follows a closed-form
   md5 law (below), synthesized executor-side; the REAL codec decodes
   it and pooling recovers 72 cells. Pooling is exact-integer because
   the law holds every pooling box (image) or time window (audio,
   video) at a constant value — so a padding mis-strip, a channel swap,
   a row flip, a stride or a sample-count bug lands in the cells and
   hash-mismatches the oracle.
2. **dHash (JVM expression).** The 72 cells read row-major as a 9x8
   grid; the 64 gradient comparisons (cell[cy, cx+1] > cell[cy, cx])
   pack into one BIGINT via a 64-term bitwise-OR chain — plain
   codegen-friendly integer expressions, no Python.
3. **Banded hamming join (one shuffle).** The SimHash Manku block
   machinery (dedup/simhash.py): 4 x 16-bit blocks; pairs sharing any
   block are candidates, verified with bit_count(xor). Pigeonhole:
   hamming <= 3 < 4 blocks GUARANTEES a shared block, so the banded
   join equals the all-pairs result exactly, never all-pairs itself.

Codecs:

- **image** — 24-bit BMP (multimodal/bmp.py); the 9x8 grid scaled by
  per-image factors (sx = id%3+1, sy = id%2+1), the resize leg.
- **mixed** — id%3 picks BMP / PNG / JPEG; the decoder is chosen by
  MAGIC BYTES, never by metadata, and unknown magics are refused. Cell
  values are even and JPEG boxes tile 8x8 blocks with a flat Q00=16
  quantizer, so even the lossy leg decodes bit-exactly and one
  format-blind oracle covers all three containers.
- **audio** — mono PCM16 WAV (multimodal/wav.py); window lengths of
  40/60/80 samples by id%3 (duration invariance).
- **video** — uncompressed AVI (multimodal/avi.py); 1 or 2 frames per
  window by id%2 (frame-rate invariance).

RGB codecs carry the (c, c+85, c+170) channel offsets, so a BGR/RGB
swap moves the pooled R cells.

Law (SQL-derivable): ids come in GROUPS of 5 (g = id//5, v = id%5)
sharing an md5 base pattern ``<tag>img,g,key``; variant v re-paints a
cell where u64md5("<tag>pert,g,v,key") % 72 < 2v with
``<tag>pval,g,v,key``, so low-variant pairs sit within the hamming cut
and high-variant pairs scatter. The oracle re-derives every hash from
the law without seeing a container byte, which makes the engine's real
decode the thing under test.

Reference parity: dHash follows the public average/gradient-hash
(pHash) family; the reference repo has no media operator — this is
beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.dedup.pairs import materialized_pairs
from aliyun_emapreduce_datasources_spark.dedup.simhash import simhash_candidates
from aliyun_emapreduce_datasources_spark.multimodal.avi import decode_avi, encode_avi
from aliyun_emapreduce_datasources_spark.multimodal.bmp import decode_bmp, encode_bmp
from aliyun_emapreduce_datasources_spark.multimodal.jpeg import encode_jpeg
from aliyun_emapreduce_datasources_spark.multimodal.media import (
    MEDIA_SCHEMA,
    _decode_any,
    _map_rows,
    _media_row,
)
from aliyun_emapreduce_datasources_spark.multimodal.png import encode_png
from aliyun_emapreduce_datasources_spark.multimodal.wav import decode_wav, encode_wav
from aliyun_emapreduce_datasources_spark.operators.common import ensure_parallelism, t

__all__ = [
    "Codec",
    "CODECS",
    "law_cells",
    "attach",
    "dhash_cells",
    "dhash_cells_fused",
    "dhash64",
    "neardup_pairs",
    "oracle",
]

GROUP_SIZE = 5
CW, CH = 9, 8  # dHash grid: 9 wide -> 8 gradients per row, 8 rows
N_CELLS = CW * CH
MAX_HAMMING = 3  # with simhash's 4 blocks: exact recall by pigeonhole
# variant v re-paints ~2v of the 72 cells: sweep-picked so within-group
# pairs split ~half kept / half rejected with hamming spread 0-8+ (both
# the keep and the reject path of the cut are exercised at every sf)
PERT_MULT = 2
_CH_OFF = (0, 85, 170)  # distinct channels catch a BGR/RGB swap

_FORMATS = ("bmp", "png", "jpeg")  # mixed: container by id % 3
_JPEG_SCALE = 8  # JPEG boxes must tile 8x8 blocks exactly for the law
_JPEG_Q16 = np.full((8, 8), 16, dtype=np.int32)
SR = 16000
_WIN_CHOICES = (40, 60, 80)  # audio samples per window, by id % 3
FPS = 8
FRAME_W, FRAME_H = 16, 8  # 16*3 bytes/row — stride already 4-aligned


@dataclass(frozen=True)
class Codec:
    """One row of the near-dup table: only what differs per codec."""

    tag: str  # md5 law tags <tag>img / <tag>pert / <tag>pval
    grid: bool  # law keys "cy,cx" (9x8 grid) or flat "k"
    mod: int  # cell value = scale * (u64 % mod)
    scale: int
    synth: Callable[[np.ndarray, int], bytes]  # (law cells, id) -> container
    pool: Callable[[bytes], np.ndarray]  # container -> cells[72], or refuse
    meta: Callable[[int, bytes], tuple]  # (id, container) -> _media_row meta fields


def _u64(s: str) -> int:
    """Unsigned 64-bit value named by the first 16 md5 hex chars —
    '0x' || substr(md5(s), 1, 16) in DuckDB (the portable family)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:16], 16)


def law_cells(codec: Codec, media_id: int) -> np.ndarray:
    """(N_CELLS,) int64 row-major cell values under the codec's
    group/variant md5 law."""
    g, v = media_id // GROUP_SIZE, media_id % GROUP_SIZE
    cells = np.empty(N_CELLS, dtype=np.int64)
    for k in range(N_CELLS):
        key = "%d,%d" % divmod(k, CW) if codec.grid else str(k)
        if _u64(f"{codec.tag}pert,{g},{v},{key}") % N_CELLS < v * PERT_MULT:
            u = _u64(f"{codec.tag}pval,{g},{v},{key}")
        else:
            u = _u64(f"{codec.tag}img,{g},{key}")
        cells[k] = codec.scale * (u % codec.mod)
    return cells


def _synth_row(codec: Codec, mid: int) -> bytes:
    return codec.synth(law_cells(codec, mid), mid)


def _rgb(c: np.ndarray) -> np.ndarray:
    return np.stack([(c + off) % 256 for off in _CH_OFF], axis=-1)


def _boxes(cells: np.ndarray, sy: int, sx: int) -> np.ndarray:
    """The 9x8 grid with each cell painted as a constant sy x sx box."""
    return cells.reshape(CH, CW).repeat(sy, axis=0).repeat(sx, axis=1)


def _pool_grid(plane: np.ndarray, name: str) -> np.ndarray:
    """Exact average-pooling of a decoded plane to the 9x8 grid."""
    h, w = plane.shape
    if h % CH or w % CW:
        raise ValueError(
            f"{name}_dhash_cells: {w}x{h} is not a multiple of "
            f"the {CW}x{CH} dHash grid"
        )
    sy, sx = h // CH, w // CW
    pooled = plane.reshape(CH, sy, CW, sx).sum(axis=(1, 3)) // (sy * sx)
    return pooled.ravel().astype(np.int32)


def _pool_windows(x: np.ndarray, name: str, unit: str) -> np.ndarray:
    """Exact mean-pooling over 72 equal windows of the leading (time)
    axis."""
    n = x.shape[0]
    if n % N_CELLS:
        raise ValueError(
            f"{name}_dhash_cells: {n} {unit} is not a multiple "
            f"of the {N_CELLS}-window envelope grid"
        )
    per_win = x.reshape(N_CELLS, -1)
    return (per_win.sum(axis=1) // per_win.shape[1]).astype(np.int32)


# image: BMP, the grid scaled by (sx, sy) = (id%3+1, id%2+1)
def _image_synth(cells: np.ndarray, mid: int) -> bytes:
    return encode_bmp(_rgb(_boxes(cells, mid % 2 + 1, mid % 3 + 1)).astype(np.uint8))


def _image_pool(payload: bytes) -> np.ndarray:
    return _pool_grid(decode_bmp(bytes(payload))[:, :, 0].astype(np.int64), "image")


def _image_meta_row(mid: int, blob: bytes) -> tuple:
    return "image", "bmp", CW * (mid % 3 + 1), CH * (mid % 2 + 1), 0


# mixed: BMP / PNG / JPEG by id % 3; JPEG is grayscale (a color JPEG
# would reintroduce YCbCr rounding) with 8x8 block-aligned boxes
def _mixed_synth(cells: np.ndarray, mid: int) -> bytes:
    fmt = _FORMATS[mid % 3]
    if fmt == "jpeg":
        px = _boxes(cells, _JPEG_SCALE, _JPEG_SCALE).astype(np.uint8)
        return encode_jpeg(px, quant_luma=_JPEG_Q16, restart_interval=3 if mid % 2 else 0)
    px = _rgb(_boxes(cells, mid % 2 + 1, mid % 3 + 1)).astype(np.uint8)
    if fmt == "bmp":
        return encode_bmp(px)
    return encode_png(px, [y % 5 for y in range(px.shape[0])])


def _mixed_pool(payload: bytes) -> np.ndarray:
    # first channel: R for the RGB legs, the gray plane for JPEG
    img = _decode_any(bytes(payload))
    plane = img[:, :, 0] if img.ndim == 3 else img
    return _pool_grid(plane.astype(np.int64), "mixed")


def _mixed_meta_row(mid: int, blob: bytes) -> tuple:
    fmt = _FORMATS[mid % 3]
    if fmt == "jpeg":
        return "image", fmt, CW * _JPEG_SCALE, CH * _JPEG_SCALE, 0
    return "image", fmt, CW * (mid % 3 + 1), CH * (mid % 2 + 1), 0


# audio: mono PCM16 WAV, each window held for _WIN_CHOICES[id % 3] samples
def _audio_synth(cells: np.ndarray, mid: int) -> bytes:
    return encode_wav(cells.repeat(_WIN_CHOICES[mid % 3]).astype(np.int16), SR)


def _audio_pool(payload: bytes) -> np.ndarray:
    pcm, sr = decode_wav(bytes(payload))
    if sr != SR:
        raise ValueError(f"audio_dhash_cells: sample rate {sr} != {SR}")
    if pcm.shape[1] != 1:
        raise ValueError(f"audio_dhash_cells: {pcm.shape[1]} channels, want mono")
    return _pool_windows(pcm[:, 0].astype(np.int64), "audio", "samples")


def _audio_meta_row(mid: int, blob: bytes) -> tuple:
    n_pcm = len(blob[44:]) // 2  # PCM16 samples after the canonical header
    return "audio", "wav", 0, 0, n_pcm * 1000 // SR


# video: uncompressed AVI, each window held for id%2+1 constant frames
def _video_synth(cells: np.ndarray, mid: int) -> bytes:
    c = cells.repeat(mid % 2 + 1)
    frames = _rgb(c)[:, None, None, :] * np.ones((1, FRAME_H, FRAME_W, 1))
    return encode_avi(frames.astype(np.uint8), FPS)


def _video_pool(payload: bytes) -> np.ndarray:
    frames, fps = decode_avi(bytes(payload))
    if fps != FPS:
        raise ValueError(f"video_dhash_cells: fps {fps} != {FPS}")
    return _pool_windows(frames[:, :, :, 0].astype(np.int64), "video", "frames")


def _video_meta_row(mid: int, blob: bytes) -> tuple:
    return "video", "avi", FRAME_W, FRAME_H, N_CELLS * (mid % 2 + 1) * 1000 // FPS


# keyed by the catalog entry's media_<key>_neardup
CODECS = {
    "image": Codec("", True, 256, 1, _image_synth, _image_pool, _image_meta_row),
    "mixed": Codec("m", True, 128, 2, _mixed_synth, _mixed_pool, _mixed_meta_row),
    "audio": Codec("a", False, 32768, 1, _audio_synth, _audio_pool, _audio_meta_row),
    "video": Codec("v", False, 256, 1, _video_synth, _video_pool, _video_meta_row),
}

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("cells", T.ArrayType(T.IntegerType())),
    ]
)


def _ids(df: DataFrame, id_col: str) -> DataFrame:
    return df.select(F.col(id_col).cast("long").alias("media_id"))


def attach(df: DataFrame, id_col: str, codec: Codec) -> DataFrame:
    """(media_id, payload, meta): genuine containers under the codec's
    law. Executor-side synthesis, each row independent."""

    def rows(mid):
        mid = int(mid)
        blob = _synth_row(codec, mid)
        return [_media_row(mid, blob, *codec.meta(mid, blob))]

    return _map_rows(_ids(df, id_col), ("media_id",), rows, MEDIA_SCHEMA)


def dhash_cells(media: DataFrame, codec: Codec) -> DataFrame:
    """REAL-decode-only pooling of each payload to (media_id, cells[72])
    row-major; the hash itself stays JVM-side (dhash64)."""
    return _map_rows(
        media.select("media_id", "payload"),
        ("media_id", "payload"),
        lambda mid, payload: [(int(mid), codec.pool(payload))],
        CELLS_SCHEMA,
    )


def dhash_cells_fused(df: DataFrame, id_col: str, codec: Codec) -> DataFrame:
    """attach ∘ dhash_cells as ONE map pass: identical container bytes,
    decode and refusal checks, but the blobs never cross the JVM
    boundary (r11 optimization round — the Arrow blob churn of the
    two-stage form is GC-cadence-coupled under heap debt; see
    media.wav_audio_features_fused)."""
    return _map_rows(
        _ids(df, id_col),
        ("media_id",),
        lambda mid: [(int(mid), codec.pool(_synth_row(codec, int(mid))))],
        CELLS_SCHEMA,
    )


def dhash64(cells: F.Column) -> F.Column:
    """64-bit gradient hash over a 72-element row-major 9x8 cell array
    as ONE flat integer expression: bit (cy*8 + cx) is set iff
    cell[cy, cx+1] > cell[cy, cx]. A 64-term bitwise-OR chain —
    whole-stage-codegen friendly, no higher-order functions, and
    shiftleft is ANSI-exempt so bit 63 packs without overflow."""
    terms = []
    for cy in range(CH):
        for cx in range(CW - 1):
            k = cy * (CW - 1) + cx
            bit = cells[cy * CW + cx + 1] > cells[cy * CW + cx]
            terms.append(
                F.when(bit, F.shiftleft(F.lit(1).cast("long"), k)).otherwise(
                    F.lit(0).cast("long")
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def neardup_pairs(
    spark: SparkSession, sf_dir: str, codec: Codec, materialize: bool = True
) -> DataFrame:
    """(media_a, media_b, hamming): perceptual near-dup pairs at
    hamming <= 3 over the 64-bit dHash, via the SimHash Manku block
    join. ``materialize=False`` keeps the plan lazy for plan
    inspection (the never-all-pairs pins in the tests)."""
    # project to the id BEFORE spreading partitions — the synthesis
    # stage only needs ids, so the one-file local fixture fans out
    # without shuffling document text
    docs = ensure_parallelism(
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id")
    )
    # the fingerprints are the shared input: both sides of the block
    # self-join read them, and without the cache the fused
    # synth+decode MapInPandas runs once PER SIDE
    fps = dhash_cells_fused(docs, "doc_id", codec).select(
        F.col("media_id"), dhash64(F.col("cells")).alias("simhash")
    )

    def build(fps: DataFrame) -> DataFrame:
        return (
            simhash_candidates(fps, id_col="media_id")
            .select(
                F.col("doc_a").alias("media_a"),
                F.col("doc_b").alias("media_b"),
                "hamming",
            )
            .orderBy("media_a", "media_b")
        )

    return materialized_pairs(fps, build, fill=True, materialize=materialize)


def _signed(u: str) -> str:
    two63 = "(CAST(1 AS HUGEINT) << 63)"
    two64 = "(CAST(1 AS HUGEINT) << 64)"
    return f"CAST({u} - CASE WHEN {u} >= {two63} THEN {two64} ELSE 0 END AS BIGINT)"


def oracle(codec: Codec) -> str:
    """Full DuckDB twin: re-derives every cell from the md5 law (never
    touching a container byte), packs the same 64 gradient bits — bit
    (k//9)*8 + k%9, the row-major 9x8 read dhash64 uses — and takes the
    ALL-PAIRS hamming join, which the engine's banded join equals
    exactly at this threshold (pigeonhole). Deliberately FORMAT-BLIND:
    a correct engine decodes every container to the same cells."""
    u64 = "CAST(('0x' || substr(md5({s}), 1, 16)) AS UBIGINT)"
    if codec.grid:
        key = "CAST(k // 9 AS VARCHAR) || ',' || CAST(k % 9 AS VARCHAR)"
    else:
        key = "CAST(k AS VARCHAR)"
    base = u64.format(s=f"'{codec.tag}img,' || CAST(g AS VARCHAR) || ',' || {key}")
    pert_s = (
        "'{tag},' || CAST(g AS VARCHAR) || ',' || CAST(v AS VARCHAR) || ',' || " + key
    )
    pert = u64.format(s=pert_s.format(tag=f"{codec.tag}pert"))
    pval = u64.format(s=pert_s.format(tag=f"{codec.tag}pval"))
    value = "CAST({s} * ({u} % {m}) AS BIGINT)"
    return f"""
WITH ids AS (
  SELECT doc_id AS media_id, doc_id // {GROUP_SIZE} AS g,
         doc_id % {GROUP_SIZE} AS v
  FROM documents WHERE text IS NOT NULL
), cells AS MATERIALIZED (
  SELECT media_id, kk.k,
         CASE WHEN {pert} % {N_CELLS} < v * {PERT_MULT}
              THEN {value.format(s=codec.scale, u=pval, m=codec.mod)}
              ELSE {value.format(s=codec.scale, u=base, m=codec.mod)} END AS c
  FROM ids, unnest(generate_series(0, {N_CELLS - 1})) AS kk(k)
), hashes AS MATERIALIZED (
  SELECT a.media_id,
         {_signed(f"SUM(CASE WHEN b.c > a.c THEN (CAST(1 AS HUGEINT) << ((a.k // {CW}) * {CW - 1} + (a.k % {CW}))) ELSE CAST(0 AS HUGEINT) END)")} AS hash
  FROM cells a JOIN cells b
    ON b.media_id = a.media_id AND b.k = a.k + 1
  WHERE a.k % {CW} < {CW - 1}
  GROUP BY a.media_id
)
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.hash, b.hash)) AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE bit_count(xor(a.hash, b.hash)) <= {MAX_HAMMING}
ORDER BY media_a, media_b
"""
