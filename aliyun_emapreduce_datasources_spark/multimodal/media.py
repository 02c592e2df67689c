"""Binary media columns: schema, synthesis, and mapInPandas transforms.

The reference treats service payloads as opaque bytes plus typed
metadata (e.g. Loghub's string bag + system columns, OTS binary
attribute columns — TableStoreRelation.scala:188-242 BINARY branch);
this module applies the same model to media for ML pipelines.

Every verb maps rows through one executor-side pass, ``_map_rows``
(one ``mapInPandas``): blob bytes never reach the driver.

Real decode, with the package's own pure-numpy codecs (no library):

- IMAGE: BMP (multimodal/bmp.py), PNG (png.py) and JPEG (jpeg.py),
  chosen by magic bytes (``_image_codec``), never by metadata;
  ``_decode_any`` refuses an unknown magic;
- AUDIO: RIFF/WAVE PCM16 (wav.py);
- VIDEO: uncompressed RIFF/AVI (avi.py).

Digest stubs for any other payload (the attach_fake_* fixtures): four
verbs fall back to deterministic statistics derived from the bytes,
so tests stay reproducible —

- decode_features: image magic not BMP/PNG/JPEG (``_decode_image_stub``);
- resize_media: image magic not BMP/PNG/JPEG (the stub pair; its
  real leg re-encodes in the payload's own container);
- audio_features: payload not RIFF (``_decode_audio_stub``);
- video_frame_sample: payload not RIFF/AVI (frames digested from the
  metadata digest).

frame_sample digests the raw payload bytes for every payload and
decodes nothing. The *_metrics verbs decode for real only and refuse
any other payload.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.multimodal.avi import decode_avi, encode_avi
from aliyun_emapreduce_datasources_spark.multimodal.bmp import decode_bmp, encode_bmp, luma
from aliyun_emapreduce_datasources_spark.multimodal.jpeg import decode_jpeg, encode_jpeg
from aliyun_emapreduce_datasources_spark.multimodal.png import decode_png, encode_png
from aliyun_emapreduce_datasources_spark.multimodal.wav import decode_wav, encode_wav, to_mono

__all__ = [
    "MEDIA_SCHEMA",
    "attach_avi_gradient_video",
    "attach_avi_video",
    "attach_bmp_media",
    "attach_fake_audio",
    "attach_fake_media",
    "attach_fake_video",
    "attach_jpeg_block_images",
    "attach_png_gradient_images",
    "attach_wav_audio",
    "audio_features",
    "decode_features",
    "frame_sample",
    "jpeg_image_metrics",
    "png_image_metrics",
    "resize_media",
    "video_frame_metrics",
    "video_frame_sample",
]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType()),       # image | audio | video
        T.StructField("format", T.StringType()),         # jpeg | png | wav | mp4
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)


def _map_rows(
    src: DataFrame, cols: Sequence[str], rows: Callable, schema: T.StructType
) -> DataFrame:
    """One narrow mapInPandas pass over ``src``: ``rows(*values)`` gets
    the ``cols`` values of one input row and returns its output rows as
    a list of tuples in ``schema`` order — one tuple for a 1→1 verb,
    many (or none) for a frame explode."""
    cols_out = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            out = [o for r in zip(*(pdf[c] for c in cols)) for o in rows(*r)]
            by_col = zip(*out) if out else [[]] * len(cols_out)
            yield pd.DataFrame(dict(zip(cols_out, by_col)))

    return src.mapInPandas(run, schema)


def _media_row(
    media_id, payload: bytes, modality, fmt, width, height, duration_ms, digest=None
) -> tuple:
    """One MEDIA_SCHEMA row; n_bytes is the payload size and the digest
    is its sha256 unless the verb passes one (the seed digest of the
    RNG-seeded synths)."""
    meta = {
        "modality": modality,
        "format": fmt,
        "width": width,
        "height": height,
        "duration_ms": duration_ms,
        "n_bytes": len(payload),
        "digest": digest or hashlib.sha256(payload).hexdigest(),
    }
    return media_id, payload, meta


def _seed_rng(seed) -> tuple[bytes, np.random.Generator]:
    """sha256 of the seed's string form and the RNG it seeds."""
    digest = hashlib.sha256(str(seed).encode()).digest()
    return digest, np.random.default_rng(int.from_bytes(digest[:8], "big"))


def attach_fake_media(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """Derive a deterministic fake media column from any table: payload
    bytes from sha2 of the seed column (stand-in for real blobs read
    from object storage), metadata filled accordingly."""
    payload = F.to_binary(F.sha2(F.col(seed_col).cast("string"), 256), F.lit("hex"))
    meta = F.struct(
        F.lit("image").alias("modality"),
        F.lit("fake").alias("format"),
        (F.pmod(F.col(id_col), F.lit(64)) + 16).cast("int").alias("width"),
        (F.pmod(F.col(id_col), F.lit(48)) + 16).cast("int").alias("height"),
        F.lit(0).cast("long").alias("duration_ms"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(F.col(seed_col).cast("string"), 256).alias("digest"),
    )
    return df.select(F.col(id_col).alias("media_id"), payload.alias("payload"), meta.alias("meta"))


def attach_bmp_media(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """REAL-container twin of attach_fake_media: each row carries a
    genuine 24-bit BMP (multimodal/bmp.py encode_bmp — grayscale
    pixels replicated into BGR, padded bottom-up rows), synthesized
    EXECUTOR-SIDE in mapInPandas. Pixels are deterministic RNG noise
    seeded from sha256(seed); width/height keep the id-derived
    dimensions (id % 64 + 16, id % 48 + 16) so n_pixels stays
    oracle-derivable, and n_bytes is the true container size."""
    src = df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(seed_col).cast("string").alias("_seed"),
        (F.pmod(F.col(id_col), F.lit(64)) + 16).cast("int").alias("_w"),
        (F.pmod(F.col(id_col), F.lit(48)) + 16).cast("int").alias("_h"),
    )

    def rows(mid, seed, w, h):
        digest, rng = _seed_rng(seed)
        w, h = int(w), int(h)
        bmp = encode_bmp(rng.integers(0, 256, size=(h, w), dtype=np.uint8))
        return [_media_row(int(mid), bmp, "image", "bmp", w, h, 0, digest.hex())]

    return _map_rows(src, src.columns, rows, MEDIA_SCHEMA)


_ImageCodec = tuple[Callable[[bytes], np.ndarray], Callable[[np.ndarray], bytes]]

_IMAGE_CODECS: tuple[tuple[bytes, _ImageCodec], ...] = (
    (b"BM", (decode_bmp, encode_bmp)),
    (b"\x89PNG\r\n\x1a\n", (decode_png, encode_png)),
    (b"\xff\xd8", (decode_jpeg, encode_jpeg)),
)


def _image_codec(blob: bytes) -> _ImageCodec | None:
    """MAGIC-BYTE dispatch: the payload says what it is, metadata is
    not trusted. The BMP, PNG or JPEG (decoder, encoder), or None."""
    return next((c for magic, c in _IMAGE_CODECS if blob.startswith(magic)), None)


def _decode_any(blob: bytes) -> np.ndarray:
    """Decode a BMP, PNG or JPEG payload; unknown magics are refused
    with the prefix named."""
    codec = _image_codec(blob)
    if codec is None:
        raise ValueError(f"image decode: unknown container magic {blob[:8]!r}")
    return codec[0](blob)


def _decode_image(payload, width: int, height: int) -> np.ndarray:
    """(h, w) luminance plane: a BMP, PNG or JPEG payload goes through
    its real codec and the exact-integer luma; anything else falls
    back to the stub so attach_fake_media fixtures keep working."""
    blob = bytes(payload or b"")
    codec = _image_codec(blob)
    if codec is None:
        return _decode_image_stub(payload, width, height)
    return luma(codec[0](blob))


def _decode_image_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB decoder: deterministic pseudo-pixels from the payload
    digest. Replace with e.g. PIL.Image.open(io.BytesIO(payload)).

    Raises like a real decoder would on empty payloads.
    """
    if not payload:
        raise ValueError("empty media payload")
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width), dtype=np.uint8)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("std_luma", T.DoubleType()),
        T.StructField("n_pixels", T.LongType()),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """Decode + per-image luma features (mean, std, pixel count). Each
    decoded image is dropped before the next row decodes."""

    def rows(mid, payload, meta):
        img = _decode_image(payload, meta["width"], meta["height"])
        return [(mid, float(img.mean()), float(img.std()), int(img.size))]

    return _map_rows(media, ("media_id", "payload", "meta"), rows, FEATURES_SCHEMA)


def resize_media(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Payload→payload resize (decode → nearest-neighbor downsample →
    re-encode), preserving the binary-plus-metadata contract so the
    output is itself a media table the other verbs accept.

    BMP, PNG and JPEG payloads decode AND re-encode through their own
    container's codec (``_IMAGE_CODECS``) — at FULL COLOR: the resize
    samples the decoded planes directly, so a genuine color image
    comes back as a resized color image in the same format (the luma
    projection is only for the feature path; round-8 review finding).
    Payloads of any other magic (the attach_fake_media fixtures) keep
    the legacy stub pair. The nearest-neighbor index sampling is
    shared by both legs. Blob bytes stay executor-side end to end.
    """

    def rows(mid, payload, meta):
        blob = bytes(payload or b"")
        codec = _image_codec(blob)
        if codec is None:
            img = _decode_image_stub(payload, meta["width"], meta["height"])
        else:
            img = codec[0](blob)
        yi = np.linspace(0, img.shape[0] - 1, target_h).round().astype(int)
        xi = np.linspace(0, img.shape[1] - 1, target_w).round().astype(int)
        resized = img[np.ix_(yi, xi)]
        out = resized.tobytes() if codec is None else codec[1](resized)
        return [
            _media_row(
                mid, out, meta["modality"], meta["format"],
                target_w, target_h, meta["duration_ms"],
            )
        ]

    return _map_rows(media, ("media_id", "payload", "meta"), rows, MEDIA_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def frame_sample(media: DataFrame, every_n: int = 4, n_frames: int = 16) -> DataFrame:
    """Video-style frame sampling: one output row per sampled frame
    (1→N explode inside mapInPandas — the UDTF-ish shape). Frame
    content is stubbed as digest-of(payload, idx)."""

    def rows(mid, payload):
        return [
            (mid, idx, hashlib.sha256(bytes(payload) + idx.to_bytes(4, "big")).hexdigest())
            for idx in range(0, n_frames, every_n)
        ]

    return _map_rows(media, ("media_id", "payload"), rows, FRAMES_SCHEMA)


# --- video path --------------------------------------------------------

VIDEO_FPS = 8            # frames/second the stub "decoder" emits


def attach_fake_video(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """Video twin of attach_fake_media: payload bytes stand in for an
    MP4 blob; duration_ms is metadata (1–5 s, derived from the id so
    the per-media frame count VARIES and is oracle-derivable — unlike
    frame_sample's fixed n_frames, this exercises the variable-length
    1→N explode a real video decoder produces)."""
    payload = F.to_binary(F.sha2(F.col(seed_col).cast("string"), 256), F.lit("hex"))
    meta = F.struct(
        F.lit("video").alias("modality"),
        F.lit("mp4").alias("format"),
        (F.pmod(F.col(id_col), F.lit(64)) + 16).cast("int").alias("width"),
        (F.pmod(F.col(id_col), F.lit(48)) + 16).cast("int").alias("height"),
        (F.pmod(F.col(id_col), F.lit(4000)) + 1000).cast("long").alias("duration_ms"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(F.col(seed_col).cast("string"), 256).alias("digest"),
    )
    return df.select(F.col(id_col).alias("media_id"), payload.alias("payload"), meta.alias("meta"))


AVI_FPS = 8
AVI_W, AVI_H = 16, 12


def attach_avi_video(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """REAL-container twin of attach_fake_video: each row carries a
    genuine uncompressed AVI (multimodal/avi.py — RIFF hdrl/movi,
    raw-DIB 00db frames), synthesized EXECUTOR-SIDE in mapInPandas.
    duration_ms keeps the id-derived 1–5 s (so the frame count
    ``duration_ms × 8 / 1000`` stays derivable); frames are small
    (16×12) deterministic RNG grayscale so a 5 s clip is ~23 KB."""
    src = df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(seed_col).cast("string").alias("_seed"),
        (F.pmod(F.col(id_col), F.lit(4000)) + 1000)
        .cast("long")
        .alias("_duration_ms"),
    )

    def rows(mid, seed, duration_ms):
        digest, rng = _seed_rng(seed)
        n = int(duration_ms) * AVI_FPS // 1000
        frames = rng.integers(0, 256, size=(n, AVI_H, AVI_W), dtype=np.uint8)
        avi = encode_avi(frames, AVI_FPS)
        return [
            _media_row(
                int(mid), avi, "video", "avi", AVI_W, AVI_H, int(duration_ms), digest.hex()
            )
        ]

    return _map_rows(src, src.columns, rows, MEDIA_SCHEMA)


# Gradient-AVI geometry: width 17 makes the row stride 52 (= 51 + 1
# pad byte), so the catalog decode exercises the 4-byte DIB row
# padding; height 11 makes the bottom-up flip observable (corner rows
# differ). Pixel law (SQL-derivable — the whole point): with
# g(y, x) = (media_id + 13·frame_idx + 2·y + 3·x) mod 256, a pixel is
# RGB (g, (g+85) mod 256, (g+170) mod 256). Distinct channels catch a
# BGR/RGB swap; the y/x gradient catches vertical mirroring and
# padding mis-strips.
GRAD_FPS = 8
GRAD_W, GRAD_H = 17, 11
_GRAD_CH_OFF = (0, 85, 170)


def _gradient_frames(media_id: int, n: int) -> np.ndarray:
    """(n, GRAD_H, GRAD_W, 3) uint8 RGB frames under the pixel law."""
    yy, xx = np.meshgrid(
        np.arange(GRAD_H, dtype=np.int64),
        np.arange(GRAD_W, dtype=np.int64),
        indexing="ij",
    )
    idx = np.arange(n, dtype=np.int64)[:, None, None]
    g = (media_id + 13 * idx + 2 * yy + 3 * xx) % 256
    return np.stack(
        [(g + off) % 256 for off in _GRAD_CH_OFF], axis=-1
    ).astype(np.uint8)


def attach_avi_gradient_video(df: DataFrame, id_col: str) -> DataFrame:
    """attach_avi_video with ORACLE-DERIVABLE frame content: genuine
    uncompressed AVI containers (multimodal/avi.py) whose decoded
    pixels follow the closed-form gradient law above, so a SQL engine
    can reconstruct per-frame pixel sums and corner values without
    ever seeing the bytes. Containers are synthesized EXECUTOR-SIDE in
    mapInPandas (each row independent — embarrassingly parallel at any
    scale); duration_ms keeps the id-derived 1–5 s so the frame count
    ``duration_ms × 8 / 1000`` stays derivable too."""
    src = df.select(
        F.col(id_col).cast("long").alias("media_id"),
        (F.pmod(F.col(id_col), F.lit(4000)) + 1000)
        .cast("long")
        .alias("_duration_ms"),
    )

    def rows(mid, duration_ms):
        mid, duration_ms = int(mid), int(duration_ms)
        n = duration_ms * GRAD_FPS // 1000
        avi = encode_avi(_gradient_frames(mid, n), GRAD_FPS)
        return [_media_row(mid, avi, "video", "avi", GRAD_W, GRAD_H, duration_ms)]

    return _map_rows(src, src.columns, rows, MEDIA_SCHEMA)


# Gradient-PNG geometry: sizes vary per media (6-17 x 6-13) so the
# decode must read IHDR, and the per-row filter type cycles y % 5 so
# every genuine container exercises ALL FIVE unfilter paths
# (None/Sub/Up/Average/Paeth) through real DEFLATE bytes — h >= 6
# guarantees every filter appears in every container. Pixel law
# (SQL-derivable, the AVI-gradient pattern): g(y, x) = (media_id +
# 2·y + 3·x) mod 256, channels (g, (g+85) mod 256, (g+170) mod 256).
# Sizes sit in the AVI entry's per-frame ballpark (the sequential
# unfilter chain prices each pixel; the codec itself is size-generic,
# tests/test_png.py sweeps other shapes).
PNG_W_MOD, PNG_W_BASE = 12, 6
PNG_H_MOD, PNG_H_BASE = 8, 6


def _png_gradient_pixels(media_id: int) -> np.ndarray:
    w = media_id % PNG_W_MOD + PNG_W_BASE
    h = media_id % PNG_H_MOD + PNG_H_BASE
    yy, xx = np.meshgrid(
        np.arange(h, dtype=np.int64), np.arange(w, dtype=np.int64), indexing="ij"
    )
    g = (media_id + 2 * yy + 3 * xx) % 256
    return np.stack([(g + off) % 256 for off in _GRAD_CH_OFF], axis=-1).astype(
        np.uint8
    )


def attach_png_gradient_images(df: DataFrame, id_col: str) -> DataFrame:
    """Genuine PNG containers (multimodal/png.py — real zlib DEFLATE,
    CRC'd chunks, filtered scanlines) whose decoded pixels follow the
    closed-form gradient law above, so a SQL engine reconstructs
    per-image pixel sums and corner probes without seeing the bytes —
    the compressed-format sibling of attach_avi_gradient_video
    (round-9 verdict ask #4). Containers are synthesized
    executor-side in mapInPandas; each row independent."""
    src = df.select(F.col(id_col).cast("long").alias("media_id"))

    def rows(mid):
        px = _png_gradient_pixels(int(mid))
        h, w = px.shape[:2]
        png = encode_png(px, [y % 5 for y in range(h)])
        return [_media_row(int(mid), png, "image", "png", w, h, 0)]

    return _map_rows(src, src.columns, rows, MEDIA_SCHEMA)


PNG_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("corner_tl_r", T.IntegerType()),
        T.StructField("corner_br_b", T.IntegerType()),
    ]
)


def png_image_metrics(media: DataFrame) -> DataFrame:
    """REAL-decode-only image metrics: parse each payload as a genuine
    PNG (multimodal/png.py — signature, chunk CRCs, zlib inflate, all
    five unfilters; refuses anything else), emit the DECODED width and
    height (IHDR must be read right), the int64 sum of all RGB bytes,
    and two orientation/channel probes. Under the gradient law all
    five are id-derivable, so a full SQL oracle pins the decoded
    CONTENT — a wrong unfilter (the per-row y%5 cycle guarantees every
    filter type appears), a channel swap, or a scanline mis-split
    hash-mismatches. Blob bytes stay executor-side."""

    def rows(mid, payload):
        img = decode_png(bytes(payload))
        if img.ndim == 2:
            img = np.repeat(img[:, :, None], 3, axis=2)
        h, w = img.shape[:2]
        return [
            (mid, w, h, int(img.sum(dtype=np.int64)), int(img[0, 0, 0]), int(img[-1, -1, 2]))
        ]

    return _map_rows(media, ("media_id", "payload"), rows, PNG_METRICS_SCHEMA)


# ---- JPEG constant-block law (multimodal/jpeg.py is the codec) ----
# Grid: wb = id%5+2 blocks wide, hb = id%4+2 blocks tall (8 px each).
# Block (by, bx) is the CONSTANT value v = 2*((id + 5*by + 7*bx) % 128)
# — even on purpose: with a flat Q[0][0]=16 table the whole chain
# (level shift → DC=8(v-128) → quantize /16 → dequantize → IDCT /8) is
# integer-exact in float64, so the DECODED pixels equal v bit-for-bit
# and a SQL oracle re-derives them with integer arithmetic. Every
# third id also encodes with restart_interval=2, so the catalog
# exercises the DRI/RSTn path (restarts never change decoded values).
_JPEG_FLAT_Q = np.full((8, 8), 16, dtype=np.int32)


def _jpeg_block_values(media_id: int) -> np.ndarray:
    wb, hb = media_id % 5 + 2, media_id % 4 + 2
    by, bx = np.mgrid[0:hb, 0:wb]
    return (2 * ((media_id + 5 * by + 7 * bx) % 128)).astype(np.uint8)


def attach_jpeg_block_images(df: DataFrame, id_col: str) -> DataFrame:
    """Genuine baseline JFIF JPEGs (multimodal/jpeg.py — real Huffman
    entropy coding, DQT/DHT/SOF0/SOS marker stream, byte stuffing,
    periodic restart markers) whose decoded pixels follow the
    constant-block law above, so a SQL engine reconstructs per-image
    pixel sums and corner probes without seeing the bytes — the
    DCT-codec sibling of attach_png_gradient_images (round-11: closes
    the 'JPEG refused loudly' gap). Containers are synthesized
    executor-side in mapInPandas; each row independent."""
    src = df.select(F.col(id_col).cast("long").alias("media_id"))

    def rows(mid):
        mid = int(mid)
        px = np.kron(_jpeg_block_values(mid), np.ones((8, 8), dtype=np.uint8))
        blob = encode_jpeg(
            px,
            quant_luma=_JPEG_FLAT_Q,
            restart_interval=2 if mid % 3 == 0 else 0,
        )
        h, w = px.shape
        return [_media_row(mid, blob, "image", "jpeg", w, h, 0)]

    return _map_rows(src, src.columns, rows, MEDIA_SCHEMA)


JPEG_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("corner_tl", T.IntegerType()),
        T.StructField("corner_br", T.IntegerType()),
    ]
)


def jpeg_image_metrics(media: DataFrame) -> DataFrame:
    """REAL-decode-only image metrics: parse each payload as a genuine
    baseline JPEG (multimodal/jpeg.py — marker walk, container-carried
    DQT/DHT, Huffman scan decode, dequant + exact IDCT; refuses
    anything else), emit the DECODED width and height (SOF0 must be
    read right, MCU padding cropped), the int64 sum of all gray
    pixels, and two corner probes. Under the constant-block law all
    five are id-derivable, so a full SQL oracle pins the decoded
    CONTENT — a wrong Huffman table parse, a DC-prediction slip, a
    dropped restart reset, or an IDCT normalization error
    hash-mismatches. Blob bytes stay executor-side."""

    def rows(mid, payload):
        img = decode_jpeg(bytes(payload))
        if img.ndim == 3:
            img = img[:, :, 0]
        h, w = img.shape
        return [(mid, w, h, int(img.sum(dtype=np.int64)), int(img[0, 0]), int(img[-1, -1]))]

    return _map_rows(media, ("media_id", "payload"), rows, JPEG_METRICS_SCHEMA)


VIDEO_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("corner_tl_r", T.IntegerType()),
        T.StructField("corner_br_b", T.IntegerType()),
    ]
)


def video_frame_metrics(media: DataFrame, every_n: int = 3) -> DataFrame:
    """REAL-decode-only frame sampling: parse each payload as a
    genuine AVI (multimodal/avi.py — refuses anything that is not a
    RIFF/AVI container), sample every ``every_n``-th DECODED frame and
    emit content metrics over the actual pixel array: the int64 sum of
    all RGB bytes plus two orientation/channel probes (R channel of
    the top-left pixel, B channel of the bottom-right pixel). Under
    attach_avi_gradient_video's pixel law all three are id-derivable,
    so a full SQL oracle pins the decoded CONTENT — any padding strip,
    bottom-up flip, or BGR→RGB error in the codec shifts them.

    The 1→N frame explode happens inside mapInPandas; blob bytes stay
    executor-side (no driver materialization at any scale), and each
    media row decodes independently — the same per-row parallelism an
    ffmpeg-backed swap would keep."""

    def rows(mid, payload):
        frames, fps = decode_avi(bytes(payload))
        return [
            (
                mid, idx, idx * 1000 // fps,
                int(fr.sum(dtype=np.int64)), int(fr[0, 0, 0]), int(fr[-1, -1, 2]),
            )
            for idx, fr in zip(range(0, len(frames), every_n), frames[::every_n])
        ]

    return _map_rows(media, ("media_id", "payload"), rows, VIDEO_METRICS_SCHEMA)


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def video_frame_sample(
    media: DataFrame, fps: int = VIDEO_FPS, every_n: int = 3
) -> DataFrame:
    """Duration-driven frame sampling: the stub "container" holds
    ``duration_ms × fps / 1000`` frames; every ``every_n``-th one is
    sampled, each emitting (frame_idx, frame_ts_ms, frame_digest).

    The row count per media VARIES with metadata (8–39 frames at the
    defaults), so an oracle over ``generate_series`` pins that every
    media row fanned out to exactly the right frame set — the
    variable-explode contract a real ffmpeg swap must keep.
    frame_digest is sha256 over "<payload-digest>:<idx>" (both engines
    hash the same UTF-8 string), so frame identity is pinned too, not
    just the counts. Blob bytes stay executor-side; the explode happens
    inside mapInPandas so no driver materialization at any scale.

    A payload that IS a RIFF/AVI container takes the REAL decode leg
    (multimodal/avi.py): the frame count and period come from the
    parsed container, not metadata trust, and frame_digest is the
    sha256 of the DECODED frame's raw RGB bytes — content-addressed
    identity, the contract an ffmpeg swap keeps.
    """

    def rows(mid, payload, meta):
        if (
            payload is not None
            and bytes(payload[:4]) == b"RIFF"
            and bytes(payload[8:12]) == b"AVI "
        ):
            frames, real_fps = decode_avi(bytes(payload))
            return [
                (mid, idx, idx * 1000 // real_fps, hashlib.sha256(fr.tobytes()).hexdigest())
                for idx, fr in zip(range(0, len(frames), every_n), frames[::every_n])
            ]
        n_total = int(meta["duration_ms"]) * fps // 1000
        digest = meta["digest"]
        return [
            (mid, idx, idx * 1000 // fps, hashlib.sha256(f"{digest}:{idx}".encode()).hexdigest())
            for idx in range(0, n_total, every_n)
        ]

    return _map_rows(media, ("media_id", "payload", "meta"), rows, VIDEO_FRAMES_SCHEMA)


# --- audio path --------------------------------------------------------

SR = 16000           # samples/second the stub "decoder" emits
FRAME = 400          # 25 ms analysis window
HOP = 160            # 10 ms hop


def attach_fake_audio(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """Audio twin of attach_fake_media: payload bytes stand in for a
    WAV blob; duration_ms is metadata (0.5–2.5 s, derived from the id so
    the frame count is oracle-derivable)."""
    payload = F.to_binary(F.sha2(F.col(seed_col).cast("string"), 256), F.lit("hex"))
    meta = F.struct(
        F.lit("audio").alias("modality"),
        F.lit("wav").alias("format"),
        F.lit(0).cast("int").alias("width"),
        F.lit(0).cast("int").alias("height"),
        (F.pmod(F.col(id_col), F.lit(2000)) + 500).cast("long").alias("duration_ms"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(F.col(seed_col).cast("string"), 256).alias("digest"),
    )
    return df.select(F.col(id_col).alias("media_id"), payload.alias("payload"), meta.alias("meta"))


def attach_wav_audio(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """REAL-container twin of attach_fake_audio: each row carries a
    genuine RIFF/WAVE byte string (canonical 44-byte header + PCM16
    mono data, multimodal/wav.py's encode_wav), synthesized
    EXECUTOR-SIDE in mapInPandas — blobs never touch the driver, the
    same discipline as every other media path. The PCM itself is
    deterministic RNG noise seeded from sha256(seed) (there is no real
    recording to read in this container), but the BYTES are a real WAV
    file any decoder accepts; duration_ms = id % 2000 + 500 keeps
    n_samples = duration_ms × 16 oracle-derivable, and n_bytes is the
    true container size (44 + 2·n_samples, header + PCM16 data)."""
    src = _wav_src(df, id_col, seed_col)

    def rows(mid, seed, duration_ms):
        digest, wav = _noise_wav(seed, int(duration_ms), SR)
        return [_media_row(int(mid), wav, "audio", "wav", 0, 0, int(duration_ms), digest.hex())]

    return _map_rows(src, src.columns, rows, MEDIA_SCHEMA)


def _wav_src(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(seed_col).cast("string").alias("_seed"),
        (F.pmod(F.col(id_col), F.lit(2000)) + 500)
        .cast("long")
        .alias("_duration_ms"),
    )


def _noise_wav(seed, duration_ms: int, sr: int) -> tuple[bytes, bytes]:
    """(seed digest, WAV container) of seeded PCM16 noise."""
    digest, rng = _seed_rng(seed)
    n = duration_ms * sr // 1000
    return digest, encode_wav(rng.integers(-(2**15), 2**15, size=n, dtype=np.int16), sr)


def _decode_audio_stub(payload: bytes, duration_ms: int, sr: int = SR) -> np.ndarray:
    """STUB decoder: deterministic pseudo-PCM (int16) from the payload
    digest, length = duration_ms × sr / 1000. Kept as the fallback leg
    for NON-RIFF payloads (attach_fake_audio fixtures); genuine WAV
    bytes take the real decode_wav path in audio_features. Raises like
    a real decoder on empty payloads."""
    if not payload:
        raise ValueError("empty media payload")
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    n = int(duration_ms) * sr // 1000
    return rng.integers(-(2**15), 2**15, size=n, dtype=np.int16)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("mean_rms", T.DoubleType()),
        T.StructField("mean_zcr", T.DoubleType()),
    ]
)


def audio_features(
    media: DataFrame, sr: int = SR, frame: int = FRAME, hop: int = HOP
) -> DataFrame:
    """Decode → frame (25 ms window / 10 ms hop) → per-frame RMS energy
    and zero-crossing rate → per-media pooling, via mapInPandas.

    The framing is a numpy stride view (no copy of the PCM per frame)
    and the per-frame stats are vectorized over the frame axis — the
    exact shape a librosa/torchaudio swap keeps. Frame count
    ``1 + (n_samples - frame) // hop`` is metadata-derivable, which is
    what the catalog oracle pins.

    Decode: a payload that IS a RIFF container (b'RIFF' magic) goes
    through the real pure-numpy WAV parser (multimodal/wav.py —
    chunk-walked PCM16, stereo downmixed deterministically); anything
    else falls back to the legacy stub so attach_fake_audio fixtures
    keep working. The catalog entry (media_audio_features) attaches
    real WAV bytes, so the driver's oracle exercises the genuine
    decode end to end."""

    def rows(mid, payload, meta):
        if payload is not None and bytes(payload[:4]) == b"RIFF":
            pcm = to_mono(decode_wav(bytes(payload))[0])
        else:
            pcm = _decode_audio_stub(payload, meta["duration_ms"], sr)
        return [_audio_feature_row(mid, pcm, frame, hop)]

    return _map_rows(media, ("media_id", "payload", "meta"), rows, AUDIO_FEATURES_SCHEMA)


def _audio_feature_row(media_id, pcm: np.ndarray, frame: int, hop: int) -> tuple:
    """Frame (25 ms / 10 ms hop) + RMS/ZCR pooling of one decoded mono
    clip — the per-row core audio_features and the fused synth+decode
    path share."""
    if pcm.size < frame:
        # a clip shorter than one analysis window has no frames —
        # emit zero-frame metadata with null stats instead of letting
        # sliding_window_view raise an opaque ValueError
        return media_id, int(pcm.size), 0, None, None
    frames = np.lib.stride_tricks.sliding_window_view(pcm, frame)[::hop]
    x = frames.astype(np.float64)
    rms = np.sqrt((x * x).mean(axis=1))
    zcr = (np.diff(np.signbit(frames), axis=1) != 0).mean(axis=1)
    return media_id, int(pcm.size), int(frames.shape[0]), float(rms.mean()), float(zcr.mean())


def wav_audio_features_fused(
    df: DataFrame,
    id_col: str,
    seed_col: str,
    sr: int = SR,
    frame: int = FRAME,
    hop: int = HOP,
) -> DataFrame:
    """attach_wav_audio ∘ audio_features as ONE map pass: each row
    synthesizes its genuine RIFF/WAVE container and immediately
    chunk-walks it back through the REAL decoder (multimodal/wav.py)
    before framing — identical bytes, identical decode, identical
    features, but the PCM16 blobs never cross the JVM boundary.

    Why (r11 optimization round, guide §4): the two-stage form shipped
    ~hundreds of MB of payload python→JVM→python through Arrow; under
    a debt-carrying heap that allocation burst made the entry
    GC-CADENCE-COUPLED — 9–16 s in default-cadence sweeps vs 2.1 s
    with per-entry GC and 1.2 s isolated (the r10 minhash pathology).
    Fusing removes the JVM-side blob traffic outright, which is also
    the 100 TB shape when no other consumer needs the container
    bytes."""
    src = _wav_src(df, id_col, seed_col)

    def rows(mid, seed, duration_ms):
        _, wav = _noise_wav(seed, int(duration_ms), sr)  # the genuine container bytes
        decoded, _sr = decode_wav(wav)  # REAL chunk-walk decode
        return [_audio_feature_row(int(mid), to_mono(decoded), frame, hop)]

    return _map_rows(src, src.columns, rows, AUDIO_FEATURES_SCHEMA)
