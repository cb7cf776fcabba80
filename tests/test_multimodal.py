"""Multimodal plumbing tests: schemas, batch shapes, determinism."""

from __future__ import annotations

import pytest

from sig_etl_spark.llm import multimodal as M


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", bytes(range(200)), 10, 20, None, None, "png"),
        (2, "image", b"\xff" * 64, 8, 8, None, None, "jpg"),
        (3, "audio", b"\x01\x02\x03\x04" * 100, None, None, 16000, 2500, "wav"),
        (4, "video", bytes(range(256)) * 4, 640, 480, None, 3500, "mp4"),
        (5, "video", b"\x00", 640, 480, None, 0, "mp4"),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_feature_extraction_schema_and_determinism(spark, media):
    out = M.extract_features(M.partition_media(media))
    assert out.schema == M.FEATURES_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 5
    assert rows[1].n_bytes == 200
    assert len(rows[1].features) == M.FEATURE_DIM
    # histogram of 0..199 over 16 bins of width 16: first bins full
    assert abs(rows[1].features[0] - 16 / 200) < 1e-6
    # determinism: second run identical
    again = {r.media_id: r.features for r in M.extract_features(media).collect()}
    assert again[1] == rows[1].features


def test_resize_images_contract(spark, media):
    out = M.resize_images(media, 4, 3).collect()
    assert {r.media_id for r in out} == {1, 2}  # only images
    for r in out:
        assert len(bytes(r.content)) == 12
        assert (r.width, r.height) == (4, 3)


def test_sample_frames_explosion(spark, media):
    frames = M.sample_frames(media, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == {4, 5}
    assert len(by_id[4]) == 3  # 3500ms at 1fps -> 3 frames
    assert [r.ts_ms for r in sorted(by_id[4], key=lambda r: r.frame_idx)] == [0, 1000, 2000]
    assert len(by_id[5]) == 1  # zero-duration still yields one frame
    for r in frames:
        assert len(bytes(r.frame)) >= 1


def test_real_codec_is_clearly_stubbed():
    if not M._HAVE_PIL:
        with pytest.raises(NotImplementedError):
            M.decode_real(b"not an image")

# --- real PPM codec -------------------------------------------------------

def test_ppm_roundtrip_and_header_grammar():
    import numpy as np

    from sig_etl_spark.llm.multimodal import decode_ppm, encode_ppm

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (decode_ppm(encode_ppm(px)) == px).all()

    # comment lines and arbitrary whitespace inside the header are legal
    raw = px.tobytes()
    weird = b"P6 # magic\n# a comment line\n 3\t2 # dims\n255\n" + raw
    assert (decode_ppm(weird) == px).all()


def test_ppm_decode_rejects_garbage():
    import numpy as np
    import pytest

    from sig_etl_spark.llm.multimodal import decode_ppm, decode_real, encode_ppm

    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"PNG...")
    with pytest.raises(ValueError, match="length mismatch"):
        decode_ppm(b"P6\n4 4\n255\n\x00\x00")  # raster too short
    with pytest.raises(ValueError, match="length mismatch"):
        decode_ppm(b"P6\n1 1\n255\n\x00\x00\x00extra")  # trailing bytes
    with pytest.raises(ValueError, match="whitespace"):
        # header must end in exactly one whitespace byte
        decode_ppm(b"P6\n1 1\n255")
    with pytest.raises(ValueError, match="length mismatch"):
        # CRLF after maxval must error, not shift the raster silently
        decode_ppm(b"P6\n1 1\n255\r\n\x00\x00\x00")
    with pytest.raises(ValueError, match="16-bit"):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")
    # decode_real routes P6 to the stdlib decoder even without PIL
    px = np.zeros((1, 2, 3), dtype=np.uint8)
    assert decode_real(encode_ppm(px)).shape == (1, 2, 3)
    # and stays an HONEST gate for formats no stdlib codec covers
    from sig_etl_spark.llm import multimodal as M

    if not M._HAVE_PIL:
        with pytest.raises(NotImplementedError):
            decode_real(b"GIF87a......")
    # JPEG magic now routes to decode_jpeg — a malformed stream is a
    # ValueError from the parser, never a silent fake
    with pytest.raises(ValueError):
        decode_real(b"\xff\xd8\xff\xe0JFIF-ish")


def test_png_roundtrip_all_filters():
    import numpy as np

    from sig_etl_spark.llm.multimodal import decode_png, decode_real, encode_png

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 4), (16, 5), (2, 33)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        # each fixed filter type, then the default all-five cycle
        for fc in [lambda y, t=t: t for t in range(5)] + [None]:
            assert (decode_png(encode_png(px, fc)) == px).all()
        # decode_real routes PNG signatures to the stdlib decoder
        assert (decode_real(encode_png(px)) == px).all()


def test_png_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sig_etl_spark.llm.multimodal import decode_png, encode_png

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31),
    )
    def check(w, h, seed):
        px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_png(encode_png(px)) == px).all()

    check()


def test_png_decode_rejects_corruption():
    import struct

    import numpy as np
    import pytest

    from sig_etl_spark.llm.multimodal import decode_png, encode_png

    px = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(4, 3, 3)
    blob = bytearray(encode_png(px))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\x89PNJ" + bytes(blob[4:]))
    # flip one IDAT byte -> CRC catches it
    corrupt = bytearray(blob)
    corrupt[-20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupt))
    # 16-bit / interlaced headers are honestly rejected
    ihdr = struct.pack(">IIBBBBB", 3, 4, 16, 2, 0, 0, 0)
    import zlib

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(bad)


def test_decode_image_stats_real_decode(spark):
    import numpy as np

    from sig_etl_spark.llm.multimodal import decode_image_stats, encode_ppm

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    px[..., 0] = 10  # R
    px[..., 1] = 20  # G
    px[..., 2] = 30  # B
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(px)))], "media_id long, content binary"
    )
    row = decode_image_stats(df).collect()[0]
    assert (row.width, row.height) == (2, 2)
    assert (row.sum_r, row.sum_g, row.sum_b) == (40, 80, 120)


def test_wav_roundtrip_property():
    """encode_wav -> decode_wav is identity for arbitrary PCM16 shapes."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        frames=st.integers(min_value=1, max_value=300),
        channels=st.integers(min_value=1, max_value=4),
        rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(frames, channels, rate, seed):
        rng = np.random.RandomState(seed)
        samples = rng.randint(-32768, 32768, size=(frames, channels)).astype(np.int16)
        out, out_rate = M.decode_wav(M.encode_wav(samples, rate))
        assert out_rate == rate
        assert out.shape == (frames, channels)
        assert (out == samples).all()

    check()


def test_wav_decode_rejects_corruption():
    import struct

    import numpy as np

    good = M.encode_wav(np.arange(8, dtype=np.int16).reshape(4, 2), 8000)
    # not RIFF / not WAVE
    with pytest.raises(ValueError):
        M.decode_wav(b"JUNK" + good[4:])
    with pytest.raises(ValueError):
        M.decode_wav(good[:8] + b"AIFF" + good[12:])
    # truncated payload (RIFF size check)
    with pytest.raises(ValueError):
        M.decode_wav(good[:-2])
    # non-PCM format tag (2 = ADPCM) -> honest rejection, not garbage
    bad = bytearray(good)
    fmt_at = good.index(b"fmt ") + 8
    bad[fmt_at : fmt_at + 2] = struct.pack("<H", 2)
    with pytest.raises(ValueError):
        M.decode_wav(bytes(bad))
    # inconsistent block_align
    bad = bytearray(good)
    bad[fmt_at + 12 : fmt_at + 14] = struct.pack("<H", 7)
    with pytest.raises(ValueError):
        M.decode_wav(bytes(bad))
    # data not a whole number of frames: stereo with odd sample count
    with pytest.raises(ValueError):
        samples = np.arange(6, dtype=np.int16).reshape(3, 2)
        blob = M.encode_wav(samples, 8000)
        # chop 2 bytes out of data and fix up sizes
        cut = blob[:-2]
        cut = (
            cut[:4]
            + struct.pack("<I", len(cut) - 8)
            + cut[8 : cut.index(b"data") + 4]
            + struct.pack("<I", 10)
            + cut[cut.index(b"data") + 8 :]
        )
        M.decode_wav(cut)
    # channels=0 with block_align=0/byte_rate=0: the consistency checks
    # pass vacuously (0 == 0) — must raise ValueError, not ZeroDivisionError
    bad = bytearray(good)
    bad[fmt_at + 2 : fmt_at + 4] = struct.pack("<H", 0)   # channels = 0
    bad[fmt_at + 8 : fmt_at + 12] = struct.pack("<I", 0)  # byte_rate = 0
    bad[fmt_at + 12 : fmt_at + 14] = struct.pack("<H", 0)  # block_align = 0
    with pytest.raises(ValueError):
        M.decode_wav(bytes(bad))
    # sample_rate=0 likewise
    bad = bytearray(good)
    bad[fmt_at + 4 : fmt_at + 8] = struct.pack("<I", 0)   # sample_rate = 0
    bad[fmt_at + 8 : fmt_at + 12] = struct.pack("<I", 0)  # byte_rate = 0
    with pytest.raises(ValueError):
        M.decode_wav(bytes(bad))


def test_jpeg_constant_tiles_roundtrip_exact():
    """Constant 8x8 tiles survive DCT+quantize(1)+IDCT bit-for-bit —
    the property the mm_decode_jpeg oracle relies on — for gray and RGB,
    multiple-of-8 and ragged dims, with and without restart markers."""
    import numpy as np

    for h, w in [(16, 24), (18, 36), (9, 17)]:
        y, x = np.mgrid[0:h, 0:w]
        v = ((7 + (y // 8) * 37 + (x // 8) * 11) % 256).astype(np.uint8)
        for ri in (0, 2):
            out = M.decode_jpeg(M.encode_jpeg(v, restart_interval=ri))
            assert out.shape == (h, w, 3)
            assert np.array_equal(out[:, :, 0], v), (h, w, ri, "gray")
            px3 = np.repeat(v[:, :, None], 3, axis=2)
            out3 = M.decode_jpeg(M.encode_jpeg(px3, restart_interval=ri))
            assert np.array_equal(out3, px3), (h, w, ri, "rgb")


def test_jpeg_texture_roundtrip_error_bound():
    """Arbitrary textures with quant=1: the only loss is coefficient
    rounding, whose spatial error stays tiny. A Huffman/zigzag/IDCT bug
    produces errors in the tens — the bound is a real tripwire."""
    import numpy as np

    rng = np.random.RandomState(11)
    for shape in [(17, 21), (8, 8), (32, 16, 3)]:
        tex = rng.randint(0, 256, shape).astype(np.uint8)
        out = M.decode_jpeg(M.encode_jpeg(tex))
        ref = tex if tex.ndim == 3 else np.repeat(tex[:, :, None], 3, axis=2)
        err = np.abs(out.astype(int) - ref.astype(int)).max()
        assert err <= 3, f"shape {shape}: max err {err}"


def test_jpeg_coeff_entropy_layer_exact():
    """encode_jpeg_from_coeffs -> decode_jpeg_coeffs is the identity on
    integer coefficient planes (dense, sparse, run>15, negative values,
    restart markers) — the entropy layer has no tolerance at all."""
    import numpy as np

    rng = np.random.RandomState(3)
    dense = rng.randint(-40, 41, (2, 3, 8, 8)).astype(np.int32)
    sparse = np.zeros((1, 4, 8, 8), dtype=np.int32)
    sparse[0, :, 0, 0] = [100, -100, 0, 77]
    sparse[0, 1, 7, 7] = -1  # forces a >15 zero run (ZRL) before it
    sparse[0, 2, 0, 1] = 5
    for plane, ri in [(dense, 0), (sparse, 0), (dense, 2), (sparse, 1)]:
        by, bx = plane.shape[:2]
        blob = M.encode_jpeg_from_coeffs([plane], bx * 8, by * 8,
                                         restart_interval=ri)
        w, h, coeffs = M.decode_jpeg_coeffs(blob)
        assert (w, h) == (bx * 8, by * 8)
        assert len(coeffs) == 1
        assert np.array_equal(coeffs[0], plane), f"ri={ri}"


def test_jpeg_quant_table_out_of_range_rejected():
    """DQT entries are 8-bit and 0 is not a valid divisor: a table entry
    of 256 or 0 raises instead of wrapping through uint8."""
    import numpy as np

    plane = np.zeros((1, 1, 8, 8), dtype=np.int32)
    for bad in (256, 0):
        quant = np.ones((8, 8), dtype=np.int32)
        quant[3, 5] = bad
        with pytest.raises(ValueError, match="outside 1..255"):
            M.encode_jpeg_from_coeffs([plane], 8, 8, quant=quant)


def test_jpeg_quant_table_respected():
    """A non-trivial quant table must round-trip through DQT: dequantized
    coefficients are exact multiples of the table entries."""
    import numpy as np

    rng = np.random.RandomState(5)
    tex = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    q = np.full((8, 8), 4, dtype=np.int32)
    q[0, 0] = 2
    _, _, coeffs = M.decode_jpeg_coeffs(M.encode_jpeg(tex, quant=q))
    plane = coeffs[0]
    assert np.all(plane[:, :, 0, 0] % 2 == 0)
    ac = plane.copy()
    ac[:, :, 0, 0] = 0
    assert np.all(ac % 4 == 0)
    assert np.abs(ac).max() > 0, "fixture too flat to test AC dequant"


def test_jpeg_decode_rejects_corruption():
    import struct

    import numpy as np

    rng = np.random.RandomState(9)
    tex = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    good = M.encode_jpeg(tex)
    # not a JPEG
    with pytest.raises(ValueError):
        M.decode_jpeg(b"NOPE" + good[4:])
    # progressive SOF2 -> honest rejection
    bad = bytearray(good)
    sof_at = bad.index(b"\xff\xc0")
    bad[sof_at + 1] = 0xC2
    with pytest.raises(ValueError):
        M.decode_jpeg(bytes(bad))
    # subsampled chroma (sampling 0x22) -> honest rejection
    bad = bytearray(good)
    bad[sof_at + 9] = 0x22  # first component h|v
    with pytest.raises(ValueError):
        M.decode_jpeg(bytes(bad))
    # truncated entropy stream
    with pytest.raises(ValueError):
        M.decode_jpeg(good[: len(good) // 2])
    # 16-bit DQT precision
    bad = bytearray(good)
    dqt_at = bad.index(b"\xff\xdb")
    bad[dqt_at + 4] = 0x10
    with pytest.raises(ValueError):
        M.decode_jpeg(bytes(bad))
    # decode_real routes the magic and NotImplementedError never fires
    out = M.decode_real(good)
    assert out.shape == (16, 16, 3)
    (struct,)  # silence unused when asserts are stripped


def test_wav_extra_chunks_tolerated():
    """Real-world WAVs carry LIST/fact chunks; the walker must skip them."""
    import struct

    import numpy as np

    samples = np.array([[100, -100], [2000, -2000]], dtype=np.int16)
    blob = M.encode_wav(samples, 16000)
    # splice a LIST chunk (odd length -> exercises word-align padding)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    data_at = blob.index(b"data")
    spliced = blob[:data_at] + extra + blob[data_at:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    out, rate = M.decode_wav(spliced)
    assert rate == 16000
    assert (out == samples).all()


def test_decode_audio_stats_real_decode(spark):
    import numpy as np
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    mono = np.array([[1], [2], [-3]], dtype=np.int16)
    stereo = np.array([[10, -10], [300, -300]], dtype=np.int16)
    rows = [
        (1, M.encode_wav(mono, 8000)),
        (2, M.encode_wav(stereo, 44100)),
    ]
    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    out = {r.media_id: r for r in M.decode_audio_stats(
        spark.createDataFrame(rows, schema)).collect()}
    assert out[1].sample_rate == 8000
    assert (out[1].n_channels, out[1].n_frames) == (1, 3)
    assert (out[1].sum_ch0, out[1].sum_ch1, out[1].peak_abs) == (0, 0, 3)
    assert out[2].sample_rate == 44100
    assert (out[2].n_channels, out[2].n_frames) == (2, 2)
    assert (out[2].sum_ch0, out[2].sum_ch1, out[2].peak_abs) == (310, -310, 300)


def test_audio_features_roundtrip_against_raw_pcm(spark, sf_dir):
    """Recompute crossings/energy/rms from the same closed-form PCM the
    fixture encodes, without going through the codec."""
    import math

    import numpy as np

    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["mm_audio_features"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows[:: max(1, len(rows) // 10)]:
        mid = r["media_id"]
        channels = 1 + mid % 2
        frames = 50 + mid % 64
        j = np.arange(frames * channels, dtype=np.int64)
        v = (mid * 31 + j * 57) % 4001 - 2000
        ch0 = v[::channels]
        assert r["n_frames"] == frames
        assert r["zero_crossings"] == int(((ch0[1:] * ch0[:-1]) < 0).sum())
        energy = int((ch0 * ch0).sum())
        assert r["energy"] == energy
        assert abs(r["rms"] - math.sqrt(energy / frames)) < 1e-12


def test_image_dedup_counts_even_and_complete(spark, sf_dir):
    """Every file has its planted twin, so every copy count is even and
    >= 2; the closed-form raster has period lcm(95, 20) = 380 in doc_id,
    so genuinely distinct images number min(n_docs, 380) and cross-id
    duplicates beyond the twins are REAL, not an artifact."""
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    rows = QUERIES["mm_image_dedup"].builder(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == min(n_docs, 380)
    total = 0
    for r in rows:
        assert r["n_copies"] >= 2 and r["n_copies"] % 2 == 0
        assert r["canonical_id"] < 1000000  # survivor comes from the base ids
        total += r["n_copies"]
    assert total == 2 * n_docs


def test_scene_cuts_mix_and_manual_check(spark, sf_dir):
    import numpy as np

    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    rows = QUERIES["mm_scene_cuts"].builder(spark, sf_dir).collect()
    assert rows
    flags = {r["is_cut"] for r in rows}
    assert flags == {True, False} or len(rows) < 4  # threshold separates
    # manual recompute for one media
    docs = {r["doc_id"]: r["text"] for r in load_table(spark, sf_dir, "documents").collect()}
    r0 = rows[0]
    mid = r0["media_id"]
    raw = docs[mid].encode("utf-8")
    duration = 500 * (1 + mid % 7)
    n_frames = max(duration // 700, 1)
    step = max(len(raw) // n_frames, 1)

    def hist(b):
        a = np.frombuffer(b, dtype=np.uint8) // 16
        return np.bincount(a, minlength=16)[:16].astype(int)

    for r in rows:
        if r["media_id"] != mid:
            continue
        i = r["frame_idx"]
        fa = raw[(i - 1) * step : (i - 1) * step + step] or b"\x00"
        fb = raw[i * step : i * step + step] or b"\x00"
        want = int(np.abs(hist(fb) - hist(fa)).sum())
        assert r["l1_dist"] == want
        assert r["is_cut"] == (want > 8)


def test_phash_band_guarantee_pure_math():
    """Pigeonhole recall of the 2-of-8 composite banding: ANY pair of
    64-bit hashes at Hamming <= 6 must share at least one composite
    (key_idx, key_val) — mirrors the Spark expression byte-for-byte."""
    import random

    rng = random.Random(7)

    def keys(h):
        bands = [(h >> (8 * i)) & 255 for i in range(8)]
        return {
            (i * 8 + j, bands[i] * 256 + bands[j])
            for i in range(8)
            for j in range(i + 1, 8)
        }

    for _ in range(200):
        h = rng.getrandbits(64)
        flips = rng.sample(range(64), rng.randint(0, 6))
        h2 = h
        for b in flips:
            h2 ^= 1 << b
        assert keys(h) & keys(h2), (hex(h), flips)


def test_phash_invariant_to_upsampling():
    """pHash must survive resolution changes — a 2x nearest upsample of
    the same picture hashes identically (the whole point of a
    perceptual hash vs the exact raster md5)."""
    import numpy as np

    from sig_etl_spark.llm.multimodal import phash64_pixels

    rs = np.random.RandomState(3)
    img = rs.randint(0, 256, size=(16, 24, 3)).astype(np.uint8)
    up = np.kron(img, np.ones((2, 2, 1), dtype=np.uint8))
    assert phash64_pixels(img) == phash64_pixels(up)


def test_phash_near_dup_recall_precision(spark, sf_dir):
    """Planted-noise twins: EVERY doc_id%5==0 twin pair is found at
    Hamming <= 6 (banding guarantee + measured noise ceiling), and no
    cross-image pair appears (distinct seeds measured >= 14 apart)."""
    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["mm_phash_near_dup"].builder(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    expected = {
        (k, k + 10_000_000) for k in range(0, docs) if k % 5 == 0
    }
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == expected, (len(got), len(expected))
    assert all(0 <= r["hamming"] <= 6 for r in rows)


def test_audio_fingerprint_volume_invariant():
    """Energy-RATIO signs must survive a volume change: halving every
    sample leaves the fingerprint identical (all band energies scale by
    the same factor, so every transition comparison is unchanged)."""
    import numpy as np

    from sig_etl_spark.llm.multimodal import audio_fingerprint64

    rs = np.random.RandomState(11)
    samples = rs.randint(-20000, 20000, size=(9000, 1)).astype(np.int16)
    assert audio_fingerprint64(samples) == audio_fingerprint64(
        (samples.astype(np.int32) // 2).astype(np.int16)
    )


def test_audio_fingerprint_near_dup_recall_precision(spark, sf_dir):
    """Planted noisy twins (every 7th doc, +/-600 amplitude noise): all
    found at Hamming <= 6, and no cross-clip pair appears (distinct
    seeds measured >= 11 apart over 300 prototype seeds)."""
    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["mm_audio_fingerprint_near_dup"].builder(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    expected = {(k, k + 20_000_000) for k in range(0, docs) if k % 7 == 0}
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == expected, (len(got), len(expected))
    assert all(0 <= r["hamming"] <= 6 for r in rows)


def test_video_near_dup_finds_planted_twins_and_only_true_pairs(spark, sf_dir):
    """Every planted one-frame-edited twin (video docs with
    doc_id%7>=3) must match its source at J >= 0.5. Extra pairs are
    allowed ONLY when ground-truth recomputation (pure-Python frame
    slicing + shingling of the two clips' texts) confirms J >= 0.5 —
    the fixture corpus itself contains near-duplicate documents, whose
    clips legitimately match."""
    import hashlib

    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["mm_video_near_dup"].builder(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 3 = 2")
        .collect()
    }
    expected = {
        (k, k + 30_000_000) for k in docs if k % 7 >= 3
    }
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert expected <= got, f"missed {len(expected - got)} planted twins"

    def clip_shingles(clip_id: int) -> set:
        doc_id = clip_id % 30_000_000
        text = docs[doc_id]
        n = len(text)
        n_frames = max((500 * (1 + doc_id % 7)) // 100, 1)
        step = max(n // n_frames, 1)
        if clip_id >= 30_000_000:  # twin: frame 2 replaced
            text = text[: 2 * step] + "X" * step + text[3 * step :]
        toks = []
        for j in range(n_frames):
            ln = min(step, n - j * step)
            seg = text[j * step : j * step + (ln if ln > 0 else 1)]
            toks.append(hashlib.md5(seg.encode()).hexdigest())
        return {"".join(toks[j : j + 3]) for j in range(len(toks) - 2)}

    for r in rows:
        assert 2 * r["co"] >= r["n_a"] + r["n_b"] - r["co"]
        assert 500 <= r["jaccard_permille"] <= 1000
        sa, sb = clip_shingles(r["id_a"]), clip_shingles(r["id_b"])
        co = len(sa & sb)
        assert co == r["co"] and len(sa) == r["n_a"] and len(sb) == r["n_b"]
        assert 2 * co >= len(sa | sb), (r["id_a"], r["id_b"])


def test_audio_fingerprint_short_clip_fallback():
    """Clips with fewer than two frames have no transitions; they must
    NOT all hash to 0 (which would pair every short clip with every
    other at Hamming 0) — distinct short clips hash differently, and
    byte-identical ones still match."""
    import numpy as np

    from sig_etl_spark.llm.multimodal import AFP_FRAME, audio_fingerprint64

    a = np.arange(AFP_FRAME, dtype=np.int16)[:, None]
    b = (np.arange(AFP_FRAME, dtype=np.int16) * 3 % 251)[:, None]
    assert audio_fingerprint64(a) != audio_fingerprint64(b)
    assert audio_fingerprint64(a) == audio_fingerprint64(a.copy())


@pytest.mark.parametrize(
    "name", ["mm_decode_png", "mm_phash_near_dup", "mm_image_dedup", "mm_resize"]
)
def test_media_shuffle_takes_partition_count_from_session(spark, sf_dir, name):
    """Every media fixture spreads its rows by media_id over the
    session's default parallelism, never a literal: a fixed 32 ran eight
    waves of small tasks on a 4-core session (about 3x slower)."""
    import re

    from sig_etl_spark.queries import QUERIES

    df = QUERIES[name].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    counts = re.findall(r"hashpartitioning\(media_id#\d+L?, (\d+)\)", plan)
    assert counts, plan
    assert {int(c) for c in counts} == {n}, plan
    if n != 32:
        literal = re.compile(r"(?i)partitioning\((?:.*[,\s])?32\)")
        shuffles = [
            ln for ln in plan.splitlines() if "Exchange " in ln and "Broadcast" not in ln
        ]
        assert not [ln for ln in shuffles if literal.search(ln)], plan


# Value hashes (tools/verify_local.frame_hash) of the two media queries
# no SQL oracle can check, per fixture set: a fixture or codec byte that
# changes the hashes but keeps the same pairs would pass the recall tests.
_ROWS_ONLY_HASHES = {
    "sf0.001": {
        "mm_phash_near_dup": "fde44555fdee1556ec1acc2fa68434ba",
        "mm_audio_fingerprint_near_dup": "257cb3956a4dc6d757258e903b539f0f",
    },
}


@pytest.mark.parametrize("name", ["mm_phash_near_dup", "mm_audio_fingerprint_near_dup"])
def test_rows_only_media_query_value_hash_pinned(spark, sf_dir, name):
    import os

    from sig_etl_spark.queries import QUERIES
    from tools.verify_local import frame_hash

    pinned = _ROWS_ONLY_HASHES.get(os.path.basename(os.path.normpath(sf_dir)))
    if pinned is None:
        pytest.skip(f"no pinned hash for fixture set {sf_dir}")
    pdf = QUERIES[name].builder(spark, sf_dir).toPandas()
    assert frame_hash(pdf) == pinned[name]
