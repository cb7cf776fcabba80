"""Oracle-checked multimodal plumbing queries.

The testdata has no real media, so these queries *manufacture* binary
columns deterministically (content = UTF-8 bytes of ``documents.text``,
metadata derived from doc_id) and drive the real codec plumbing
(llm/multimodal.py, one ``map_media`` Arrow-batch path) over them.
Because the stub codecs are deterministic byte functions and the text is
ASCII, every output is re-expressible in ANSI SQL — the DuckDB oracle
checks the *plumbing* (batch shapes, explosion, slicing, histogramming)
cell-for-cell. Real codecs swap into ``_decode_bytes`` without touching
any of this wiring.

Reference scope: SURVEY §2 multimodal columns (decode / feature-extract /
resize / frame-sample as Pandas UDFs over mapInPandas).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sig_etl_spark.llm.multimodal import (
    _D32,
    _ZIGZAG,
    AFP_FRAME,
    AFP_TRANSITIONS,
    FEATURE_DIM,
    decode_audio_features,
    decode_audio_stats,
    decode_image_stats,
    decode_jpeg_coeff_stats,
    decode_real,
    decode_wav,
    encode_jpeg,
    encode_jpeg_from_coeffs,
    encode_png,
    encode_ppm,
    encode_wav,
    extract_features,
    fingerprint_audio,
    frame_slices,
    map_media,
    partition_media,
    phash_images,
    phash_near_dup_pairs,
    resize_images,
    sample_frames,
)
from sig_etl_spark.queries import register
from sig_etl_spark.tables import load_table

_KINDS = ["image", "audio", "video"]


def _media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> MEDIA_SCHEMA frame: content is the UTF-8 text bytes,
    kind cycles image/audio/video by doc_id, duration is 500*(1+id%7) ms."""
    docs = load_table(spark, sf_dir, "documents")
    return partition_media(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.try_element_at(
                F.array(*[F.lit(k) for k in _KINDS]),
                (F.col("doc_id") % 3).cast("int") + 1,
            ).alias("kind"),
            F.encode("text", "UTF-8").alias("content"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (F.lit(500) * (F.lit(1) + F.col("doc_id") % 7)).cast("int").alias("duration_ms"),
            F.lit("raw").alias("format"),
        )
    )


def _media_ids(
    spark: SparkSession,
    sf_dir: str,
    twin_every: int = 0,
    twin_offset: int = 0,
    twin_noise: int = 0,
) -> DataFrame:
    """(media_id, seed, noise): one row per document (seed = doc_id,
    noise 0) plus, when ``twin_every`` is set, a twin of every
    twin_every-th document under media_id + twin_offset with noise
    ``twin_noise``; spread by media id."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ids = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("noise"),
    )
    if twin_every:
        ids = ids.unionByName(
            docs.filter(F.col("doc_id") % twin_every == 0).select(
                (F.col("doc_id") + twin_offset).alias("media_id"),
                F.col("doc_id").alias("seed"),
                F.lit(twin_noise).alias("noise"),
            )
        )
    return partition_media(ids)


_BLOB_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("content", BinaryType())]
)


def _blob_media(spark: SparkSession, sf_dir: str, blob, **twins) -> DataFrame:
    """(media_id, content = blob(seed, noise)) over ``_media_ids``: the
    fixture bytes are generated executor-side (codecs are Python, not
    SQL), so no blob is ever materialized on the driver."""
    return map_media(
        _media_ids(spark, sf_dir, **twins),
        lambda mid, seed, noise: [(mid, blob(seed, noise))],
        _BLOB_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Feature extraction: the stub featurizer is a 16-bucket byte histogram
# normalized by n_bytes. The query de-normalizes back to integer counts
# (exact: float32 error ~1e-3 absolute, rounded away), and the oracle
# recomputes each bucket as "characters in [16b, 16b+16)" via regex
# removal — valid because the text is ASCII (1 char == 1 byte).
# ---------------------------------------------------------------------------


def _bucket_count(b: int) -> str:
    lo, hi = 16 * b, 16 * b + 15
    return (
        f"CAST(length(text) - length(regexp_replace(text,"
        f" '[\\x{lo:02x}-\\x{hi:02x}]', '', 'g')) AS INTEGER)"
    )


_FEATURES_ORACLE = f"""
SELECT doc_id AS media_id,
       (['{"','".join(_KINDS)}'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       {" || ',' || ".join(_bucket_count(b) for b in range(FEATURE_DIM))} AS byte_hist
FROM documents
"""


@register(
    "mm_features",
    oracle=_FEATURES_ORACLE,
    doc="multimodal feature extraction: mapInPandas byte-histogram"
        " featurizer over manufactured media, de-normalized to exact"
        " integer bucket counts",
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_from_documents(spark, sf_dir)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.array_join(
            F.transform(
                "features",
                lambda x: F.round(x * F.col("n_bytes")).cast("int").cast("string"),
            ),
            ",",
        ).alias("byte_hist"),
    )


# ---------------------------------------------------------------------------
# Frame sampling: videos explode to one row per sampled frame inside
# mapInPandas; the oracle recomputes frame counts, timestamps and slice
# lengths from octet_length alone.
# ---------------------------------------------------------------------------

_EVERY_MS = 700

_FRAMES_ORACLE = f"""
WITH v AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         CAST(500 * (1 + doc_id % 7) AS INTEGER) AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
),
x AS (
  SELECT media_id, n,
         GREATEST(duration_ms // {_EVERY_MS}, 1) AS n_frames
  FROM v
),
s AS (SELECT media_id, n, n_frames, GREATEST(n // n_frames, 1) AS step FROM x)
SELECT media_id,
       CAST(j AS INTEGER) AS frame_idx,
       CAST(j * {_EVERY_MS} AS INTEGER) AS ts_ms,
       CAST(CASE WHEN LEAST(step, n - j * step) <= 0 THEN 1
                 ELSE LEAST(step, n - j * step) END AS INTEGER) AS frame_bytes
FROM s CROSS JOIN range(8) t(j)
WHERE j < n_frames
"""


@register(
    "mm_frame_sample",
    oracle=_FRAMES_ORACLE,
    doc="multimodal frame sampling: per-frame explosion inside mapInPandas;"
        " oracle checks frame counts, timestamps and slice lengths",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_from_documents(spark, sf_dir)
    frames = sample_frames(media, every_ms=_EVERY_MS)
    return frames.select(
        "media_id",
        "frame_idx",
        "ts_ms",
        F.length("frame").alias("frame_bytes"),
    )


# ---------------------------------------------------------------------------
# Resize: the stub tiles/truncates the source bytes to exactly
# width*height; decoding the blob back to text makes the oracle a strict
# content check (repeat + substr), not just a length check.
# ---------------------------------------------------------------------------

_RW, _RH = 16, 16

_RESIZE_ORACLE = f"""
SELECT doc_id AS media_id,
       {_RW} AS width, {_RH} AS height,
       substr(repeat(text, CAST(CEIL({_RW * _RH}.0 / length(text)) AS INTEGER)),
              1, {_RW * _RH}) AS payload,
       'raw' AS format
FROM documents WHERE doc_id % 3 = 0
"""


# ---------------------------------------------------------------------------
# REAL pixel decode: the fixture is a genuine binary PPM (P6) image built
# in Spark — header + raster whose pixel j is the closed form
# (media_id*7 + j*13) % 95 + 32 (printable ASCII, so 1 char == 1 byte and
# the whole file is UTF-8-encodable). decode_image_stats traverses the
# actual codec gate (decode_real -> decode_ppm): header grammar parsed,
# raster reshaped, per-channel integer sums computed from decoded pixels.
# The oracle re-derives width/height/sums from the same closed form —
# a wrong header parse, stride, or channel order fails the hash.
# ---------------------------------------------------------------------------

_PPM_MAX_BYTES = 8 * 6 * 3  # w <= 8, h <= 6

_DECODE_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS width,
         CAST(3 + doc_id % 4 AS INTEGER) AS height
  FROM documents
),
px AS (
  SELECT media_id, width, height,
         (media_id * 7 + j * 13) % 95 + 32 AS v,
         j % 3 AS ch
  FROM d CROSS JOIN range({_PPM_MAX_BYTES}) t(j)
  WHERE j < width * height * 3
)
SELECT media_id, width, height,
       CAST(SUM(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN ch = 2 THEN v END) AS BIGINT) AS sum_b
FROM px GROUP BY media_id, width, height
"""


def _ppm_content(seed: Column) -> Column:
    """P6 PPM bytes built in SQL: a (4 + seed%5) x (3 + seed%4) raster
    whose sample j is (seed*7 + j*13) % 95 + 32."""
    w = (F.lit(4) + seed % 5).cast("int")
    h = (F.lit(3) + seed % 4).cast("int")
    raster = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (w * h * 3 - 1).cast("int")),
            lambda j: F.char((seed * 7 + j * 13) % 95 + 32),
        ),
        "",
    )
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
    )
    return F.encode(F.concat(header, raster), "UTF-8")


@register(
    "mm_decode_ppm",
    oracle=_DECODE_ORACLE,
    doc="REAL image decode: binary PPM fixtures parsed by the stdlib codec"
        " (decode_real -> decode_ppm) inside mapInPandas; oracle re-derives"
        " header fields and per-channel pixel sums arithmetically",
)
def mm_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_ids(spark, sf_dir).select(
        "media_id", _ppm_content(F.col("seed")).alias("content")
    )
    return decode_image_stats(media)


# ---------------------------------------------------------------------------
# REAL compressed-format decode: per-document PNG fixtures (zlib-deflated,
# CRC'd, row filters cycling None/Sub/Up/Average/Paeth so every filter
# reversal in decode_png runs) built in mapInPandas from the closed form
# pixel j = (media_id*11 + j*17) % 256, then decoded back through the
# decode_real gate. The oracle re-derives width/height/channel sums from
# the same closed form — a wrong inflate, filter reversal, stride or CRC
# pass fails the hash.
# ---------------------------------------------------------------------------

_PNG_MAX_SAMPLES = 8 * 6 * 3  # w <= 8, h <= 6

_PNG_DECODE_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS width,
         CAST(3 + doc_id % 4 AS INTEGER) AS height
  FROM documents
),
px AS (
  SELECT media_id, width, height,
         (media_id * 11 + j * 17) % 256 AS v,
         j % 3 AS ch
  FROM d CROSS JOIN range({_PNG_MAX_SAMPLES}) t(j)
  WHERE j < width * height * 3
)
SELECT media_id, width, height,
       CAST(SUM(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN ch = 2 THEN v END) AS BIGINT) AS sum_b
FROM px GROUP BY media_id, width, height
"""


def _png_blob(seed: int, noise: int) -> bytes:
    """Real PNG bytes of the closed-form raster (encoding is Python:
    zlib/CRC are not SQL expressions). No twins, so ``noise`` is unused."""
    w, h = 4 + seed % 5, 3 + seed % 4
    j = np.arange(w * h * 3, dtype=np.int64)
    px = ((seed * 11 + j * 17) % 256).astype(np.uint8).reshape(h, w, 3)
    return encode_png(px)  # default: filters cycle 0..4


@register(
    "mm_decode_png",
    oracle=_PNG_DECODE_ORACLE,
    doc="REAL compressed decode: zlib-deflated PNG fixtures (all 5 row"
        " filters) parsed by the stdlib codec (decode_real -> decode_png)"
        " inside mapInPandas; oracle re-derives pixel sums arithmetically",
)
def mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_image_stats(_blob_media(spark, sf_dir, _png_blob))


# ---------------------------------------------------------------------------
# REAL audio decode: per-document RIFF/WAVE PCM16 fixtures built in
# mapInPandas from the closed form sample j = (media_id*31 + j*57) % 4001
# - 2000 (interleaved when stereo), then decoded back through decode_wav:
# RIFF chunk walk, fmt parse, frame reshape. The oracle re-derives rate /
# channels / frame count / per-channel integer sums / abs peak from the
# same closed form — a wrong chunk walk, fmt field, or interleave order
# fails the hash. Audio twin of mm_decode_ppm / mm_decode_png.
# ---------------------------------------------------------------------------

_WAV_MAX_SAMPLES = (50 + 63) * 2  # n_frames <= 113, channels <= 2

_WAV_DECODE_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
         CAST(50 + doc_id % 64 AS BIGINT) AS n_frames,
         CAST(8000 + 100 * (doc_id % 5) AS INTEGER) AS sample_rate
  FROM documents
),
s AS (
  SELECT media_id, sample_rate, n_channels, n_frames,
         (media_id * 31 + j * 57) % 4001 - 2000 AS v,
         j % n_channels AS ch
  FROM d CROSS JOIN range({_WAV_MAX_SAMPLES}) t(j)
  WHERE j < n_frames * n_channels
)
SELECT media_id, sample_rate, n_channels, n_frames,
       CAST(SUM(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_ch0,
       CAST(COALESCE(SUM(CASE WHEN ch = 1 THEN v END), 0) AS BIGINT) AS sum_ch1,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak_abs
FROM s GROUP BY media_id, sample_rate, n_channels, n_frames
"""


def _wav_blob(seed: int, noise: int) -> bytes:
    """Real WAV bytes of the closed-form PCM stream (struct packing is
    Python). No twins, so ``noise`` is unused."""
    channels = 1 + seed % 2
    frames = 50 + seed % 64
    rate = 8000 + 100 * (seed % 5)
    j = np.arange(frames * channels, dtype=np.int64)
    v = ((seed * 31 + j * 57) % 4001 - 2000).astype(np.int16)
    return encode_wav(v.reshape(frames, channels), rate)


@register(
    "mm_decode_wav",
    oracle=_WAV_DECODE_ORACLE,
    doc="REAL audio decode: RIFF/WAVE PCM16 fixtures (mono+stereo) parsed"
        " by the stdlib codec (decode_wav) inside mapInPandas; oracle"
        " re-derives header fields, per-channel sums and abs peak"
        " arithmetically",
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_audio_stats(_blob_media(spark, sf_dir, _wav_blob))


# ---------------------------------------------------------------------------
# REAL DCT-format decode, in two hash-exact layers (JPEG is lossy, so the
# trick is choosing fixtures whose loss is provably zero):
#
# mm_decode_jpeg — PIXEL path. Fixtures are constant 8x8 tiles
# (v = (mid*13 + ty*37 + tx*11) % 256, R=G=B): a constant block's DCT is
# a single integer DC with analytically-zero ACs, quantization by 1 is
# exact, and the DC-only IDCT reproduces the constant bit-for-bit after
# rounding — so decode(encode(px)) == px EXACTLY and integer pixel sums
# are oracle-predictable. Non-multiple-of-8 dims exercise edge padding +
# crop; mid % 3 == 0 images carry DRI/RSTn restart markers.
#
# mm_decode_jpeg_coeffs — ENTROPY path (Huffman + DPCM + run-length +
# zigzag + dequant, no IDCT). Fixtures are built straight from closed-
# form integer coefficient blocks (encode_jpeg_from_coeffs), sparse with
# per-block moduli 7/15/23 so short runs, ZRL (run > 15) and EOB all
# occur; decode_jpeg_coeffs returns the planes and the query emits exact
# integer stats the oracle re-derives. Together the two queries pin every
# stage of the codec with value hashes.
# ---------------------------------------------------------------------------

_JPEG_MAX_PIX = 36 * 18  # w <= 8*(2+2)+4 = 36, h <= 8*(1+1)+2 = 18

_JPEG_DECODE_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(8 * (2 + doc_id % 3) + doc_id % 5 AS INTEGER) AS width,
         CAST(8 * (1 + doc_id % 2) + doc_id % 3 AS INTEGER) AS height
  FROM documents
),
px AS (
  SELECT media_id, width, height,
         (media_id * 13 + ((j // width) // 8) * 37 + ((j % width) // 8) * 11)
           % 256 AS v
  FROM d CROSS JOIN range({_JPEG_MAX_PIX}) t(j)
  WHERE j < width * height
)
SELECT media_id, width, height,
       CAST(SUM(v) AS BIGINT) AS sum_r,
       CAST(SUM(v) AS BIGINT) AS sum_g,
       CAST(SUM(v) AS BIGINT) AS sum_b
FROM px GROUP BY media_id, width, height
"""


def _jpeg_blob(seed: int, noise: int) -> bytes:
    """Real baseline-JPEG bytes of the constant-tile raster. No twins,
    so ``noise`` is unused."""
    w = 8 * (2 + seed % 3) + seed % 5
    h = 8 * (1 + seed % 2) + seed % 3
    y, x = np.mgrid[0:h, 0:w]
    v = ((seed * 13 + (y // 8) * 37 + (x // 8) * 11) % 256).astype(np.uint8)
    px = np.repeat(v[:, :, None], 3, axis=2)
    return encode_jpeg(px, restart_interval=2 if seed % 3 == 0 else 0)


@register(
    "mm_decode_jpeg",
    oracle=_JPEG_DECODE_ORACLE,
    doc="REAL DCT decode: baseline 4:4:4 JPEG fixtures (constant-tile"
        " rasters whose DCT roundtrip is provably lossless, some with"
        " restart markers) parsed by the stdlib codec (decode_real ->"
        " decode_jpeg) inside mapInPandas; oracle re-derives pixel sums",
)
def mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_image_stats(_blob_media(spark, sf_dir, _jpeg_blob))


_JPEG_MAX_COEF = 8 * 64  # blocks <= (2+2)*(1+1) = 8, 64 coeffs each

_JPEG_COEFFS_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(2 + doc_id % 3 AS INTEGER) AS bx,
         CAST(1 + doc_id % 2 AS INTEGER) AS by
  FROM documents
),
cf AS (
  SELECT media_id, bx, by,
         j // 64 AS b, j % 64 AS k,
         CASE
           WHEN j % 64 = 0 THEN (media_id * 7 + j // 64) % 101 - 50
           WHEN (media_id + j // 64 + j % 64)
                  % (7 + ((j // 64) % 3) * 8) = 0
             THEN (media_id * 5 + (j // 64) * 3 + (j % 64) * 11) % 41 - 20
           ELSE 0
         END AS v
  FROM d CROSS JOIN range({_JPEG_MAX_COEF}) t(j)
  WHERE j < bx * by * 64
)
SELECT media_id,
       CAST(bx * 8 AS INTEGER) AS width,
       CAST(by * 8 AS INTEGER) AS height,
       CAST(bx * by AS INTEGER) AS n_blocks,
       CAST(SUM(CASE WHEN k = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_dc,
       CAST(SUM(v) AS BIGINT) AS sum_coeff,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN k > 0 AND v != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonzero_ac
FROM cf GROUP BY media_id, bx, by
"""


def _jpeg_coeff_blob(seed: int, noise: int) -> bytes:
    """Baseline stream built straight from closed-form integer
    coefficient blocks (quant all-ones, so dequant is the identity). No
    twins, so ``noise`` is unused."""
    bx, by = 2 + seed % 3, 1 + seed % 2
    plane = np.zeros((by, bx, 8, 8), dtype=np.int32)
    for b in range(by * bx):
        m = 7 + (b % 3) * 8
        zz = np.zeros(64, dtype=np.int32)
        zz[0] = (seed * 7 + b) % 101 - 50
        for k in range(1, 64):
            if (seed + b + k) % m == 0:
                zz[k] = (seed * 5 + b * 3 + k * 11) % 41 - 20
        b8 = np.zeros((8, 8), dtype=np.int32)
        for kk, (rr, cc) in enumerate(_ZIGZAG):
            b8[rr, cc] = zz[kk]
        plane[b // bx, b % bx] = b8
    return encode_jpeg_from_coeffs(
        [plane], bx * 8, by * 8, restart_interval=3 if seed % 4 == 0 else 0
    )


@register(
    "mm_decode_jpeg_coeffs",
    oracle=_JPEG_COEFFS_ORACLE,
    doc="JPEG ENTROPY-layer decode: closed-form sparse coefficient blocks"
        " (runs, ZRL, EOB, DPCM, restart markers) Huffman-encoded and"
        " decoded back by decode_jpeg_coeffs; exact integer stats oracle-"
        "checked — a one-bit slip anywhere corrupts the hash",
)
def mm_decode_jpeg_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_jpeg_coeff_stats(_blob_media(spark, sf_dir, _jpeg_coeff_blob))


@register(
    "mm_resize",
    oracle=_RESIZE_ORACLE,
    doc="multimodal resize: deterministic tile/truncate to width*height"
        " bytes inside mapInPandas; oracle re-derives the exact payload",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_from_documents(spark, sf_dir)
    resized = resize_images(media, width=_RW, height=_RH)
    return resized.select(
        "media_id",
        F.col("width"),
        F.col("height"),
        F.decode("content", "UTF-8").alias("payload"),
        "format",
    )


# ---------------------------------------------------------------------------
# Audio FEATURE extraction on top of the real decode: zero-crossing rate
# and RMS energy over channel 0 — the fingerprint-grade signal features
# an audio curation pipeline computes after decode. Oracle re-derives
# the same integers from the closed-form PCM stream (lag self-comparison
# for crossings, Σv² for energy); rms is one exact-integer division plus
# one sqrt, both correctly-rounded IEEE ops, so the whole row hashes.
# ---------------------------------------------------------------------------

_WAV_FEATURES_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
         CAST(50 + doc_id % 64 AS BIGINT) AS n_frames
  FROM documents
),
s AS (
  SELECT media_id, n_frames, j // n_channels AS t,
         (media_id * 31 + j * 57) % 4001 - 2000 AS v
  FROM d CROSS JOIN range({_WAV_MAX_SAMPLES}) tt(j)
  WHERE j < n_frames * n_channels AND j % n_channels = 0
),
lagged AS (
  SELECT media_id, n_frames, v,
         lag(v) OVER (PARTITION BY media_id ORDER BY t) AS pv
  FROM s
)
SELECT media_id, n_frames,
       CAST(SUM(CASE WHEN v * pv < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_crossings,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       sqrt(CAST(SUM(v * v) AS BIGINT) / CAST(n_frames AS BIGINT)) AS rms
FROM lagged GROUP BY media_id, n_frames
"""


@register(
    "mm_audio_features",
    oracle=_WAV_FEATURES_ORACLE,
    doc="zero-crossing count + integer energy + RMS over real-decoded"
        " PCM channel 0; oracle re-derives from the closed-form stream",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_audio_features(_blob_media(spark, sf_dir, _wav_blob))


# ---------------------------------------------------------------------------
# Content-hash image dedup THROUGH the real codec: the corpus is every
# PPM fixture plus a planted twin under a shifted media_id carrying the
# IDENTICAL image bytes; each file is decoded by the stdlib codec and
# keyed by md5 of the DECODED raster — so two files are duplicates iff
# their pixels match, regardless of container differences. One
# hash-shuffle groupBy, lowest-id survivor (the exact_dedup discipline
# applied to pixels). The oracle re-derives the raster string from the
# closed form and md5s it — a wrong decode anywhere breaks the key and
# the hash. Every image appears exactly twice by construction; the test
# pins n_copies == 2 for every key.
# ---------------------------------------------------------------------------

_IMG_DEDUP_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id, doc_id AS k FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS media_id, doc_id AS k FROM documents
),
img AS (
  SELECT media_id,
         md5(array_to_string(
           list_transform(
             generate_series(0, (4 + k % 5) * (3 + k % 4) * 3 - 1),
             j -> chr(CAST((k * 7 + j * 13) % 95 + 32 AS INTEGER))),
           '')) AS pixel_key
  FROM d
)
SELECT pixel_key, MIN(media_id) AS canonical_id, COUNT(*) AS n_copies
FROM img GROUP BY pixel_key
"""


def _pixel_key(mid, content):
    yield mid, hashlib.md5(decode_real(bytes(content)).tobytes()).hexdigest()


_PIXEL_KEY_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("pixel_key", StringType())]
)


@register(
    "mm_image_dedup",
    oracle=_IMG_DEDUP_ORACLE,
    doc="image dedup keyed on md5 of the REAL-decoded raster (planted"
        " byte-identical twins): container-independent duplicate"
        " detection, lowest-id survivor",
)
def mm_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_ids(spark, sf_dir, twin_every=1, twin_offset=1000000).select(
        "media_id", _ppm_content(F.col("seed")).alias("content")
    )
    keyed = map_media(media, _pixel_key, _PIXEL_KEY_SCHEMA)
    return keyed.groupBy("pixel_key").agg(
        F.min("media_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Scene-cut detection: consecutive sampled frames compared by 16-bucket
# byte-histogram L1 distance; a jump above threshold marks a cut — the
# shot-boundary primitive of video curation, over the same stub frame
# slices mm_frame_sample already verifies. Histograms are computed
# vectorized in the SAME mapInPandas pass that slices frames (no second
# decode); the per-media lag comparison is a window over frames-per-
# video rows (bounded by duration/step, never raw bytes). Integer
# histograms and integer L1 make every row hash-exact; the oracle
# re-derives each frame's histogram from substr arithmetic + regexp
# bucket counts and joins consecutive frames.
# ---------------------------------------------------------------------------

_CUT_THRESHOLD = 8


def _frame_bucket_count(b: int) -> str:
    lo, hi = 16 * b, 16 * b + 15
    return (
        f"CAST(length(ftxt) - length(regexp_replace(ftxt,"
        f" '[\\x{lo:02x}-\\x{hi:02x}]', '', 'g')) AS BIGINT)"
    )


# CTE chain up to per-frame histograms — shared by the cut detector and
# the round-6 shot segmentation composition.
_SCENE_HIST_CTES = f"""v AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) AS n,
         CAST(500 * (1 + doc_id % 7) AS INTEGER) AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
),
x AS (
  SELECT media_id, text, n,
         GREATEST(duration_ms // {_EVERY_MS}, 1) AS n_frames
  FROM v
),
s AS (SELECT media_id, text, n, n_frames, GREATEST(n // n_frames, 1) AS step FROM x),
frames AS (
  SELECT media_id, CAST(j AS INTEGER) AS frame_idx,
         substr(text, CAST(j * step + 1 AS INTEGER),
                CAST(CASE WHEN LEAST(step, n - j * step) <= 0 THEN 1
                          ELSE LEAST(step, n - j * step) END AS INTEGER)) AS ftxt
  FROM s CROSS JOIN range(8) t(j)
  WHERE j < n_frames
),
hist AS (
  SELECT media_id, frame_idx,
         [{", ".join(_frame_bucket_count(b) for b in range(16))}] AS h
  FROM frames
)"""

_SCENE_CUT_ORACLE = f"""
WITH {_SCENE_HIST_CTES}
SELECT a.media_id, a.frame_idx,
       CAST(list_reduce(
         list_transform(generate_series(1, 16), i -> ABS(a.h[i] - b.h[i])),
         (acc, z) -> acc + z) AS BIGINT) AS l1_dist,
       list_reduce(
         list_transform(generate_series(1, 16), i -> ABS(a.h[i] - b.h[i])),
         (acc, z) -> acc + z) > {_CUT_THRESHOLD} AS is_cut
FROM hist a JOIN hist b ON a.media_id = b.media_id
                       AND b.frame_idx = a.frame_idx - 1
"""


def _frame_hists(mid, content, duration_ms):
    for i, frame in frame_slices(content, duration_ms, _EVERY_MS):
        h = np.bincount(np.frombuffer(frame, dtype=np.uint8) // 16, minlength=16)[:16]
        yield mid, i, h.astype(np.int64).tolist()


_FRAME_HIST_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("h", ArrayType(LongType())),
    ]
)


def _video_frame_hists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, frame_idx, h ARRAY<BIGINT>[16]) per sampled frame —
    the 16-bucket byte histograms computed in the SAME pass that slices
    frames (no second decode); shared by mm_scene_cuts and
    mm_shot_segments."""
    video = _media_from_documents(spark, sf_dir).filter(F.col("kind") == "video")
    return map_media(
        video.select("media_id", "content", "duration_ms"), _frame_hists, _FRAME_HIST_SCHEMA
    )


@register(
    "mm_scene_cuts",
    oracle=_SCENE_CUT_ORACLE,
    doc="scene-cut detection: consecutive-frame 16-bucket byte-histogram"
        " L1 jumps over threshold; histograms computed in the frame-"
        "slicing pass, integer-exact",
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hist = _video_frame_hists(spark, sf_dir)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    lagged = hist.withColumn("ph", F.lag("h").over(w)).filter(
        F.col("ph").isNotNull()
    )
    l1 = F.aggregate(
        F.zip_with(F.col("h"), F.col("ph"), lambda a, b: F.abs(a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, z: acc + z,
    )
    return lagged.select(
        "media_id",
        "frame_idx",
        l1.alias("l1_dist"),
        (l1 > _CUT_THRESHOLD).alias("is_cut"),
    )


# ---------------------------------------------------------------------------
# Shot segmentation + keyframe selection (round 6): the standard "one
# keyframe per shot" rollup a video-curation pipeline feeds to the
# expensive captioner/encoder — frame 0 and every cut frame start a
# shot; shot_no is the running shot index and shot_len counts frames
# until the next boundary. Composed entirely over the shared
# frame-histogram pass (no second decode, no second byte scan): cuts
# are the same lag-window comparison as mm_scene_cuts, boundaries get
# shot numbers by a per-media cumulative-sum window over
# frames-per-video rows (bounded by duration/step), and shot_len is
# one lead() against the media's frame count. All integers.
# ---------------------------------------------------------------------------

_SHOT_SEG_ORACLE = f"""
WITH {_SCENE_HIST_CTES},
l1 AS (
  SELECT a.media_id, a.frame_idx,
         CASE WHEN b.frame_idx IS NULL THEN NULL
              ELSE list_reduce(
                list_transform(generate_series(1, 16), i -> ABS(a.h[i] - b.h[i])),
                (acc, z) -> acc + z)
         END AS dist
  FROM hist a LEFT JOIN hist b ON a.media_id = b.media_id
                              AND b.frame_idx = a.frame_idx - 1
),
flagged AS (
  SELECT media_id, frame_idx,
         (frame_idx = 0 OR dist > {_CUT_THRESHOLD}) AS starts_shot
  FROM l1
),
nf AS (SELECT media_id, CAST(COUNT(*) AS INTEGER) AS n_frames FROM flagged GROUP BY media_id),
keyframes AS (
  SELECT media_id, frame_idx,
         CAST(row_number() OVER (PARTITION BY media_id ORDER BY frame_idx)
              AS BIGINT) AS shot_no
  FROM flagged WHERE starts_shot
)
SELECT k.media_id, k.shot_no, k.frame_idx AS keyframe_idx,
       CAST(COALESCE(
         lead(k.frame_idx) OVER (PARTITION BY k.media_id ORDER BY k.frame_idx),
         nf.n_frames) - k.frame_idx AS BIGINT) AS shot_len
FROM keyframes k JOIN nf USING (media_id)
"""


@register(
    "mm_shot_segments",
    oracle=_SHOT_SEG_ORACLE,
    doc="shot segmentation: frame 0 + cut frames start shots; running"
        " shot index and frame-count shot length per keyframe — one"
        " histogram pass shared with mm_scene_cuts, windows over"
        " frames-per-video rows only",
)
def mm_shot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hist = _video_frame_hists(spark, sf_dir)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    dist = F.aggregate(
        F.zip_with(F.col("h"), F.col("ph"), lambda a, b: F.abs(a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, z: acc + z,
    )
    flagged = (
        hist.withColumn("ph", F.lag("h").over(w))
        .withColumn(
            "starts_shot",
            (F.col("frame_idx") == 0)
            | (F.when(F.col("ph").isNotNull(), dist).otherwise(F.lit(None))
               > _CUT_THRESHOLD),
        )
    )
    nf = flagged.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames")
    )
    kw = Window.partitionBy("media_id").orderBy("frame_idx")
    keyframes = (
        flagged.filter(F.col("starts_shot"))
        .withColumn("shot_no", F.row_number().over(kw).cast("bigint"))
    )
    return (
        keyframes.join(nf, "media_id")
        .select(
            "media_id",
            "shot_no",
            F.col("frame_idx").alias("keyframe_idx"),
            (
                F.coalesce(
                    F.lead("frame_idx").over(
                        Window.partitionBy("media_id").orderBy("frame_idx")
                    ),
                    F.col("n_frames"),
                )
                - F.col("frame_idx")
            ).cast("bigint").alias("shot_len"),
        )
    )


# ---------------------------------------------------------------------------
# Audio activity segmentation (round 6): the VAD-shaped primitive —
# channel-0 PCM framed into 16-sample windows, per-frame integer energy,
# frames above threshold grouped into CONSECUTIVE active segments
# (islands via the frame - row_number trick, same as dup_spans/
# gaps-islands) with start/end/length/energy per segment. This is the
# audio twin of mm_shot_segments: the cheap pre-filter that picks the
# regions worth sending to an expensive ASR/embedding stage. The frame
# energies come out of the SAME mapInPandas decode pass (vectorized
# numpy reshape+square, no per-row Python); the island windows run over
# frames-per-clip rows, never samples. All integers; the oracle
# re-derives frame energies from the closed-form PCM stream.
# ---------------------------------------------------------------------------

_VAD_FRAME = 16
_VAD_THRESHOLD = 15_000_000

_AUDIO_SEG_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
         CAST(50 + doc_id % 64 AS BIGINT) AS n_frames
  FROM documents
),
s AS (
  SELECT media_id, j // n_channels AS t,
         (media_id * 31 + j * 57) % 4001 - 2000 AS v
  FROM d CROSS JOIN range({_WAV_MAX_SAMPLES}) tt(j)
  WHERE j < n_frames * n_channels AND j % n_channels = 0
),
fe AS (
  SELECT media_id, CAST(t // {_VAD_FRAME} AS BIGINT) AS frame_idx,
         CAST(SUM(v * v) AS BIGINT) AS fenergy
  FROM s GROUP BY 1, 2
),
act AS (
  SELECT *, frame_idx - row_number()
              OVER (PARTITION BY media_id ORDER BY frame_idx) AS grp
  FROM fe WHERE fenergy > {_VAD_THRESHOLD}
),
seg AS (
  SELECT media_id, grp,
         MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
         CAST(COUNT(*) AS BIGINT) AS n_active_frames,
         CAST(SUM(fenergy) AS BIGINT) AS seg_energy
  FROM act GROUP BY 1, 2
)
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_frame)
            AS BIGINT) AS seg_no,
       start_frame, end_frame, n_active_frames, seg_energy
FROM seg
"""


def _frame_energies(mid, content):
    ch0 = decode_wav(bytes(content))[0][:, 0].astype(np.int64)
    for f in range(0, ch0.shape[0], _VAD_FRAME):
        seg = ch0[f : f + _VAD_FRAME]
        yield mid, f // _VAD_FRAME, int((seg * seg).sum())


_FRAME_ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("fenergy", LongType()),
    ]
)


@register(
    "mm_audio_segments",
    oracle=_AUDIO_SEG_ORACLE,
    doc="audio activity segmentation (VAD shape): 16-sample frame"
        " energies from the decode pass, threshold gate, islands of"
        " consecutive active frames with start/end/length/energy —"
        " windows over frames-per-clip rows, never samples",
)
def mm_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    media = _blob_media(spark, sf_dir, _wav_blob)
    fe = map_media(media, _frame_energies, _FRAME_ENERGY_SCHEMA)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    act = fe.filter(F.col("fenergy") > _VAD_THRESHOLD).withColumn(
        "grp", F.col("frame_idx") - F.row_number().over(w)
    )
    seg = act.groupBy("media_id", "grp").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_frames"),
        F.sum("fenergy").cast("bigint").alias("seg_energy"),
    )
    sw = Window.partitionBy("media_id").orderBy("start_frame")
    return seg.select(
        "media_id",
        F.row_number().over(sw).cast("bigint").alias("seg_no"),
        "start_frame",
        "end_frame",
        "n_active_frames",
        "seg_energy",
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (round 7): the image twin of the text
# MinHash/SimHash near-dup family — catches "same picture, different
# bytes" (mild noise here; re-encode/crop in production), which the
# exact raster-md5 dedup (mm_image_dedup) cannot. The fixture
# manufactures REAL P6 PPM images whose low-frequency DCT sign
# structure is md5-seeded per doc (a smooth 24x16 gradient composition),
# plus a +/-3-amplitude noise-perturbed NEAR twin for every 5th doc —
# measured twin Hamming <= 6 while distinct images sit >= 14 apart, so
# threshold 6 separates cleanly. Hashing runs through the real decode
# path (encode_ppm bytes -> decode_real -> phash64_pixels) in Arrow
# batches; pairing is the combinatorial 2-of-8 band join
# (llm/multimodal.phash_near_dup_pairs) whose recall at Hamming <= 6 is
# a pigeonhole GUARANTEE, with 16-bit bucket granularity for corpus
# scale. No SQL DCT exists, so the driver records rows-only; the
# pipeline is locked by recall/precision/recompute tests
# (tests/test_multimodal.py).
# ---------------------------------------------------------------------------

_PHASH_TWIN_EVERY = 5
_PHASH_NOISE = 3
_PHASH_TWIN_OFFSET = 10_000_000
_PHASH_MAX_HAMMING = 6


def _phash_blob(seed: int, noise: int) -> bytes:
    """Real PPM bytes of the md5-seeded image; ``noise`` > 0 adds
    +/-noise uniform pixel noise (the near twin)."""
    digest = hashlib.md5(f"img:{seed}".encode()).digest()
    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))[:64]
    signs = bits.astype(np.float64) * 2 - 1
    coeff = np.zeros((32, 32))
    for u in range(8):
        for v in range(8):
            coeff[u, v] = signs[u * 8 + v] * 400.0 / ((1 + u) * (1 + v))
    coeff[0, 0] = 4000.0
    g = np.clip(_D32.T @ coeff @ _D32 / 2 + 128, 0, 255)
    ys = (np.arange(16) * 32) // 16
    xs = (np.arange(24) * 32) // 24
    img = g[np.ix_(ys, xs)]
    rgb = np.stack([img, img, img], axis=2).astype(np.int64)
    if noise:
        rs = np.random.RandomState(seed & 0x7FFFFFFF)
        rgb = rgb + rs.randint(-noise, noise + 1, size=rgb.shape)
    return encode_ppm(np.clip(rgb, 0, 255).astype(np.uint8))


@register(
    "mm_phash_near_dup",
    oracle=None,  # DCT is not SQL-expressible; recall/precision are test-locked
    doc="perceptual-hash (DCT pHash) image near-dup: real PPM decode ->"
        " 64-bit sign hash -> combinatorial 2-of-8 band join (pigeonhole"
        " recall at Hamming<=6, 16-bit buckets) -> exact bit_count"
        " verify; planted noisy twins",
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _blob_media(
        spark, sf_dir, _phash_blob, twin_every=_PHASH_TWIN_EVERY,
        twin_offset=_PHASH_TWIN_OFFSET, twin_noise=_PHASH_NOISE,
    )
    hashes = phash_images(media)
    return phash_near_dup_pairs(hashes, max_hamming=_PHASH_MAX_HAMMING).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup (round 7): the audio member of the
# cross-modality near-dup family (text MinHash/SimHash, image pHash) —
# Haitsma-Kalker band-energy-transition bits over the real WAV decode
# path, paired through the SAME combinatorial 2-of-8 banded Hamming
# join as the image pHash (llm/multimodal.phash_near_dup_pairs,
# hash-column-agnostic). Fixture clips are 17 frames of 4 band-center
# tones whose per-frame level (3 levels, consecutive repeats forced
# apart) is md5-seeded, so every transition bit is decisive: a
# +/-600-amplitude noisy twin (every 7th doc) measured Hamming 0 over
# 300 seeds while distinct seeds sit >= 11 apart — threshold 6 gives
# pigeonhole recall AND clean precision. Energy-ratio signs are
# volume-invariant (locked by test). Rows-only: no SQL FFT.
# ---------------------------------------------------------------------------

_AFP_TWIN_EVERY = 7
_AFP_NOISE = 600
_AFP_TWIN_OFFSET = 20_000_000
_AFP_MAX_HAMMING = 6
_AFP_RATE = 8000
_AFP_CENTERS = (60, 300, 900, 1900)


_AFP_NFRAMES = AFP_TRANSITIONS + 1
# band-center tone table shared by every clip: (bands, samples)
_AFP_TONES = np.stack(
    [
        np.sin(2 * np.pi * c * (np.arange(_AFP_NFRAMES * AFP_FRAME) / _AFP_RATE))
        for c in _AFP_CENTERS
    ]
)


def _seed_bytes(seed: int, n: int) -> np.ndarray:
    out = b""
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"aud:{seed}:{i}".encode()).digest()
        i += 1
    return np.frombuffer(out[:n], dtype=np.uint8)


def _afp_blob(seed: int, noise: int) -> bytes:
    """Real WAV bytes of the md5-seeded tone clip; ``noise`` > 0 adds
    +/-noise uniform sample noise (the near twin)."""
    nbands = len(_AFP_CENTERS)
    vals = _seed_bytes(seed, _AFP_NFRAMES * nbands)
    prev = [None] * nbands
    amps = np.zeros((_AFP_NFRAMES, nbands))
    for f in range(_AFP_NFRAMES):
        for b in range(nbands):
            tr = int(vals[f * nbands + b]) % 3
            if tr == prev[b]:
                tr = (tr + 1) % 3
            prev[b] = tr
            amps[f, b] = 400.0 * 3**tr
    # per-sample envelope per band, then one vectorized mix
    env = np.repeat(amps, AFP_FRAME, axis=0)  # (n, bands)
    s = (env.T * _AFP_TONES).sum(axis=0)
    if noise:
        rs = np.random.RandomState(seed & 0x7FFFFFFF)
        s = s + rs.randint(-noise, noise + 1, size=len(s))
    return encode_wav(np.clip(s, -32768, 32767).astype(np.int16)[:, None], _AFP_RATE)


@register(
    "mm_audio_fingerprint_near_dup",
    oracle=None,  # FFT is not SQL-expressible; locked by planted + invariance tests
    doc="audio fingerprint (band-energy-transition bits over real WAV"
        " decode) near-dup: same guaranteed-recall 2-of-8 banded Hamming"
        " join as the image pHash; planted noisy twins, volume-invariant",
)
def mm_audio_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _blob_media(
        spark, sf_dir, _afp_blob, twin_every=_AFP_TWIN_EVERY,
        twin_offset=_AFP_TWIN_OFFSET, twin_noise=_AFP_NOISE,
    )
    fps = fingerprint_audio(media)
    return phash_near_dup_pairs(
        fps, max_hamming=_AFP_MAX_HAMMING, hash_col="fp"
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Video near-dup (round 7): temporal-shingle Jaccard over per-frame
# content hashes — the video member of the cross-modality near-dup
# family, and unlike the image/audio perceptual hashes this one is
# FULLY oracle-checked (frame slicing is deterministic byte arithmetic,
# hashes are md5, the rest is the shingle-Jaccard machinery the text
# near-dup family already proved). A clip is a sequence of frame
# hashes; shingles are 3 consecutive hashes, so two clips match when
# long runs of frames coincide — robust to a re-encoded/partially
# edited copy (the planted twin replaces ONE middle frame and still
# scores Jaccard ~0.7-0.9), while clips from different sources share
# zero shingles. Threshold J >= 0.5 applied as exact integer
# cross-multiplication (2*co >= n_a + n_b - co); the emitted ratio is
# integer permille. Scale shape: frames explode ~n_frames per clip
# (bounded by duration metadata), the shingle posting-list join is the
# same sketch-bounded pair generator as llm_ngram_jaccard — never a
# clip x clip product; windows are clip-keyed.
# ---------------------------------------------------------------------------

_VND_EVERY_MS = 100
_VND_TWIN_OFFSET = 30_000_000

_VND_CLIP_CTES = f"""vsrc AS (
  SELECT doc_id, text, length(text) AS n,
         CAST(500 * (1 + doc_id % 7) AS INTEGER) AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
),
base AS (
  SELECT doc_id AS clip_id, text, n,
         GREATEST(duration_ms // {_VND_EVERY_MS}, 1) AS n_frames
  FROM vsrc
),
bstep AS (
  SELECT clip_id, text, n, n_frames, GREATEST(n // n_frames, 1) AS step
  FROM base
),
twin AS (
  SELECT clip_id + {_VND_TWIN_OFFSET} AS clip_id,
         substr(text, 1, 2 * step) || repeat('X', step)
           || substr(text, 3 * step + 1) AS text,
         n, n_frames, step
  FROM bstep
  WHERE (clip_id % 7) >= 3
),
clips AS (SELECT * FROM bstep UNION ALL SELECT * FROM twin),
frames AS (
  SELECT clip_id, CAST(j AS INTEGER) AS frame_idx,
         md5(substr(text, CAST(j * step + 1 AS INTEGER),
               CAST(CASE WHEN LEAST(step, n - j * step) <= 0 THEN 1
                         ELSE LEAST(step, n - j * step) END AS INTEGER)))
           AS tok
  FROM clips CROSS JOIN range(35) t(j)
  WHERE j < n_frames
),
sh AS (
  SELECT DISTINCT f0.clip_id, f0.tok || f1.tok || f2.tok AS shingle
  FROM frames f0
  JOIN frames f1 ON f1.clip_id = f0.clip_id AND f1.frame_idx = f0.frame_idx + 1
  JOIN frames f2 ON f2.clip_id = f0.clip_id AND f2.frame_idx = f0.frame_idx + 2
),
sizes AS (SELECT clip_id, COUNT(*) AS n_sh FROM sh GROUP BY clip_id)"""

_VND_ORACLE = f"""
WITH {_VND_CLIP_CTES},
co AS (
  SELECT a.clip_id AS id_a, b.clip_id AS id_b, COUNT(*) AS co
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.clip_id < b.clip_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, co, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(co * 1000 // (sa.n_sh + sb.n_sh - co) AS BIGINT)
         AS jaccard_permille
FROM co
JOIN sizes sa ON sa.clip_id = id_a
JOIN sizes sb ON sb.clip_id = id_b
WHERE 2 * co >= sa.n_sh + sb.n_sh - co
ORDER BY id_a, id_b
"""


@register(
    "mm_video_near_dup",
    oracle=_VND_ORACLE,
    doc="video near-dup via temporal shingles (3 consecutive frame-hash"
        " tokens) and posting-list Jaccard with integer"
        " cross-multiplication threshold — planted one-frame-edited"
        " twins; fully oracle-checked",
)
def mm_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    base = docs.select(
        F.col("doc_id").alias("clip_id"),
        F.col("text").alias("text"),
        F.length("text").alias("n"),
        F.greatest(
            ((500 * (1 + F.col("doc_id") % 7)).cast("int") / _VND_EVERY_MS)
            .cast("int"),
            F.lit(1),
        ).alias("n_frames"),
    ).withColumn("step", F.greatest(F.expr("n div n_frames"), F.lit(1)).cast("int"))
    twin = base.filter(F.col("clip_id") % 7 >= 3).select(
        (F.col("clip_id") + _VND_TWIN_OFFSET).alias("clip_id"),
        F.concat(
            F.substring(F.col("text"), 1, F.col("step") * 2),
            F.repeat(F.lit("X"), F.col("step")),
            F.expr("substr(text, 3 * step + 1)"),
        ).alias("text"),
        "n",
        "n_frames",
        "step",
    )
    clips = base.unionByName(twin)
    frames = clips.select(
        "clip_id", "text", "n", "step",
        F.explode(F.expr("sequence(0, n_frames - 1)")).alias("j"),
    ).select(
        "clip_id",
        F.col("j").alias("frame_idx"),
        F.md5(
            F.expr(
                "substr(text, j * step + 1,"
                " cast(case when least(step, n - j * step) <= 0 then 1"
                " else least(step, n - j * step) end as int))"
            )
        ).alias("tok"),
    )
    w = Window.partitionBy("clip_id").orderBy("frame_idx")
    sh = (
        frames.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t2").isNotNull())
        .select("clip_id", F.concat("tok", "t1", "t2").alias("shingle"))
        .distinct()
    )
    sizes = sh.groupBy("clip_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("clip_id").alias("id_a"), "shingle")
    b = sh.select(F.col("clip_id").alias("id_b"), "shingle")
    co = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    sa = sizes.select(F.col("clip_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("clip_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        co.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(2 * F.col("co") >= F.col("n_a") + F.col("n_b") - F.col("co"))
        .select(
            "id_a", "id_b", "co", "n_a", "n_b",
            F.expr("co * 1000 div (n_a + n_b - co)")
            .cast("bigint")
            .alias("jaccard_permille"),
        )
        .orderBy("id_a", "id_b")
    )
