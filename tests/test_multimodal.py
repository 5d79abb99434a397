"""Multimodal plumbing: binary payload schema, mapInPandas batching, and
the r9 pure-Python PNG decode / JPEG header parse."""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from person_linkage_case_study_spark.multimodal.media import (
    attach_media_payload,
    box_downsample,
    decode_image,
    encode_png,
    encode_wav,
    extract_audio_meta,
    extract_image_meta,
    extract_media_features,
    parse_jpeg,
    parse_png,
    parse_wav,
    resize_images,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(1, b"\x89PNG" + b"x" * 10000, "a"), (2, b"", "b"), (3, b"abc", "a")],
        "media_id long, payload binary, src string",
    )
    return attach_media_payload(df, bytes_col="payload", id_col="media_id", source_col="src")


def test_media_schema(media):
    assert [f.name for f in media.schema.fields] == [
        "media_id", "payload", "media_type", "n_bytes", "source",
    ]
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[1]["n_bytes"] == 10004
    assert rows[2]["n_bytes"] == 0


def test_decode_stub_raises():
    # a PNG-signature-less payload still routes to the PIL gate
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image(b"\x89PNG....")


def test_png_round_trip_all_layouts():
    """encode_png → parse_png recovers exact pixels for gray / RGB /
    RGBA (the encoder's rotating None/Sub/Up filter schedule exercises
    real de-filtering), and decode_image returns the array directly."""
    rng = np.random.default_rng(42)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(7, 5, c), dtype=np.uint8)
        payload = encode_png(px)
        m = parse_png(payload)
        assert (m["width"], m["height"], m["channels"], m["bit_depth"]) == (
            5, 7, c, 8,
        )
        assert np.array_equal(m["pixels"], px)
        assert m["pixel_mean"] == pytest.approx(px.mean())
        assert np.array_equal(decode_image(payload), px)


def test_png_average_and_paeth_filters():
    """Filters 3 (Average) and 4 (Paeth) aren't produced by encode_png's
    schedule, so build the filtered IDAT stream by hand (golden values
    from the spec's predictor definitions) and check reconstruction."""
    # 2x3 gray image, known pixels
    px = np.array([[10, 20, 30], [40, 60, 90]], dtype=np.uint8)
    stride = 3
    # row 0 with filter 3 (Average, prev=0): f[i] = x[i] - floor(left/2)
    r0 = [10, (20 - 10 // 2) % 256, (30 - 20 // 2) % 256]
    # row 1 with filter 4 (Paeth): pred = paeth(left, up, up-left)
    def paeth(a, b, cc):
        pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else cc)

    r1 = [
        (40 - paeth(0, 10, 0)) % 256,
        (60 - paeth(40, 20, 10)) % 256,
        (90 - paeth(60, 30, 20)) % 256,
    ]
    raw = bytes([3] + r0 + [4] + r1)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    m = parse_png(payload)
    assert np.array_equal(m["pixels"].reshape(2, 3), px)


def test_png_metadata_only_tiers():
    """16-bit PNGs decode metadata but not pixels (documented tier)."""
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 4, 16, 2, 0, 0, 0))
        + chunk(b"IEND", b"")
    )
    m = parse_png(payload)
    assert (m["width"], m["height"], m["channels"], m["bit_depth"]) == (9, 4, 3, 16)
    assert m["pixels"] is None and m["pixel_mean"] is None

    # r11 (advisor): a legal-looking width=0 (or height=0) IHDR with IDAT
    # data must stay metadata-only — pixels.mean() over an empty array
    # would emit a numpy RuntimeWarning and a NaN pixel_mean
    import warnings

    for w, h in ((0, 4), (9, 0), (0, 0)):
        degenerate = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00"))
            + chunk(b"IEND", b"")
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            m = parse_png(degenerate)
        assert (m["width"], m["height"]) == (w, h)
        assert m["pixels"] is None and m["pixel_mean"] is None


def _jpeg_header(width, height, ncomp=3, precision=8):
    """Minimal JPEG byte stream: SOI, APP0, SOF0 (no scan data needed
    for header parsing)."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof = (
        bytes([precision])
        + struct.pack(">HH", height, width)
        + bytes([ncomp])
        + b"\x01\x22\x00" * ncomp
    )
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    )


def test_jpeg_header_parse():
    m = parse_jpeg(_jpeg_header(640, 480, ncomp=3))
    assert (m["width"], m["height"], m["channels"], m["bit_depth"]) == (
        640, 480, 3, 8,
    )
    assert m["format"] == "jpeg" and m["pixels"] is None
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"not a jpeg")


def _ref_idct(coef):
    """Independent textbook IDCT (T.81 A.3.3 double sum, no matrix
    tricks) — the oracle the decoder's batched einsum is checked
    against."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = s / 4
    return out


def test_jpeg_baseline_round_trip_gray():
    """r11: pure-Python baseline JPEG decode. With unit quantization a
    piecewise-constant image is DC-only and round-trips bit-exactly
    (IDCT of a lone DC coefficient d is the constant d/8, closed form);
    arbitrary content round-trips within coefficient-rounding (±2)."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(11)
    # block-constant at awkward (pad + crop) dims: exact
    vals = rng.integers(0, 256, (3, 4))
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)[:17, :27].astype(np.uint8)
    out = decode_jpeg_pixels(encode_jpeg_baseline(img))
    assert out.dtype == np.uint8 and out.shape == img.shape
    assert np.array_equal(out, img)
    # arbitrary content: rounding-bounded
    noisy = rng.integers(0, 256, (24, 31)).astype(np.uint8)
    out = decode_jpeg_pixels(encode_jpeg_baseline(noisy))
    assert np.abs(out.astype(int) - noisy.astype(int)).max() <= 2


def test_jpeg_single_ac_coefficient_against_textbook_idct():
    """A hand-built single-AC-coefficient block must decode to the T.81
    double-sum IDCT evaluated independently (no shared matrix code) —
    pins the einsum orientation, the zigzag inverse, and dequantize."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    coef = np.zeros((8, 8))
    coef[1, 2] = 96.0  # one AC basis function
    coef[0, 0] = 64.0  # DC offset to keep values in range
    spatial = np.clip(np.round(_ref_idct(coef)) + 128, 0, 255).astype(np.uint8)
    # encode the spatial block; unit quant makes the coefficients exact
    out = decode_jpeg_pixels(encode_jpeg_baseline(spatial))
    assert np.abs(out.astype(int) - spatial.astype(int)).max() <= 1


def test_jpeg_color_subsampling_layouts():
    """4:4:4 / 4:2:2 / 4:2:0: constant color is invariant under chroma
    box-averaging so every layout reproduces it within YCbCr rounding;
    random content keeps the whole-image mean (what the curation
    pipeline consumes) within 0.5."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(12)
    const = np.zeros((24, 24, 3), np.uint8)
    const[...] = (12, 200, 99)
    noisy = rng.integers(0, 256, (19, 22, 3)).astype(np.uint8)
    for sub in ("4:4:4", "4:2:2", "4:2:0"):
        out = decode_jpeg_pixels(encode_jpeg_baseline(const, subsample=sub))
        assert out.shape == const.shape
        assert np.abs(out.astype(int) - const.astype(int)).max() <= 1
        out = decode_jpeg_pixels(encode_jpeg_baseline(noisy, subsample=sub))
        assert abs(float(out.mean()) - float(noisy.mean())) < 0.5


def test_jpeg_restart_intervals():
    """DRI + RSTn markers: predictors reset, the reader re-aligns across
    every marker, and the image round-trips like the unrestarted one."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (40, 40)).astype(np.uint8)
    payload = encode_jpeg_baseline(img, restart_interval=2)
    assert any(
        bytes((0xFF, 0xD0 + k)) in payload for k in range(8)
    )  # markers actually emitted
    out = decode_jpeg_pixels(payload)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2
    # interop: restart and non-restart encodings decode identically
    assert np.array_equal(out, decode_jpeg_pixels(encode_jpeg_baseline(img)))


def test_jpeg_quantization_closed_form():
    """A non-unit quant table actually quantizes: a constant-v image's
    reconstruction is round((v-128)·8 / q0)·q0 / 8 + 128 (the lone DC
    path, closed form); and a 16-bit (Pq=1) DQT parses to the same
    decode as the 8-bit one."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    q = np.full(64, 17, dtype=np.int64)
    img = np.full((8, 8), 77, np.uint8)
    out = decode_jpeg_pixels(encode_jpeg_baseline(img, quant=q))
    expected = round(round((77 - 128) * 8 / 17) * 17 / 8) + 128
    assert np.array_equal(out, np.full((8, 8), expected, np.uint8))

    # Pq=1 (16-bit) DQT: splice the encoder's 8-bit table segment into
    # the equivalent 16-bit encoding; decode must be identical
    payload = encode_jpeg_baseline(img, quant=q)
    dqt8 = b"\xff\xdb" + struct.pack(">H", 67) + bytes([0])
    i = payload.index(dqt8)
    zz_vals = payload[i + 5 : i + 5 + 64]
    dqt16 = (
        b"\xff\xdb"
        + struct.pack(">H", 131)
        + bytes([0x10])
        + b"".join(struct.pack(">H", b) for b in zz_vals)
    )
    spliced = payload[:i] + dqt16 + payload[i + 69 :]
    assert np.array_equal(decode_jpeg_pixels(spliced), out)


def test_jpeg_non_baseline_and_garbage_tiers():
    """Arithmetic-coded (SOF9) stays metadata-only through parse_jpeg;
    a SOF2 frame whose scan header is sequential-shaped (marker-swap
    corruption) degrades too; a truncated entropy stream degrades to
    metadata; decode_image falls through to the documented PIL gate for
    the unsupported tier."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    img = np.full((8, 8), 50, np.uint8)
    payload = encode_jpeg_baseline(img)
    arithmetic = payload.replace(b"\xff\xc0", b"\xff\xc9", 1)
    m = parse_jpeg(arithmetic)
    assert (m["width"], m["height"]) == (8, 8)
    assert m["pixels"] is None and m["pixel_mean"] is None
    with pytest.raises(ValueError):
        decode_jpeg_pixels(arithmetic)
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image(arithmetic)

    # SOF2 with a sequential (0..63 interleaved) scan header is NOT a
    # valid progressive stream (T.81 §G.1): metadata tier, not a crash
    fake_progressive = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    m = parse_jpeg(fake_progressive)
    assert (m["width"], m["height"]) == (8, 8) and m["pixels"] is None
    with pytest.raises(ValueError):
        decode_jpeg_pixels(fake_progressive)

    # SOS header is 10 bytes (marker + len + 1-component body); +11
    # cuts mid-DC-magnitude — one entropy byte where the lone block
    # needs three
    truncated = payload[: payload.index(b"\xff\xda") + 11]
    m = parse_jpeg(truncated)
    assert (m["width"], m["height"]) == (8, 8) and m["pixels"] is None

    # baseline payloads now decode for real through the generic gate
    assert np.array_equal(decode_image(payload), img)


def test_jpeg_parse_pixel_mean_closed_form():
    """parse_jpeg's pixel tier: a DC-only (block-constant) JPEG's
    pixel_mean equals the constant map's mean exactly — the same
    closed-form contract the PNG tiers give mm_media_features."""
    vals = np.array([[10, 250], [128, 33]])
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
    from person_linkage_case_study_spark.multimodal.media import (
        encode_jpeg_baseline,
    )

    m = parse_jpeg(encode_jpeg_baseline(img))
    assert m["format"] == "jpeg" and m["channels"] == 1
    assert m["pixel_mean"] == pytest.approx(float(img.mean()))
    assert np.array_equal(m["pixels"], img)


def test_extract_image_meta_spark(spark):
    """The decode kernel over Spark: PNG fully decoded, JPEG header
    parsed, garbage bytes → NULLs (never a stage kill)."""
    png = encode_png(np.full((4, 6, 3), 100, dtype=np.uint8))
    jpg = _jpeg_header(320, 200, ncomp=1)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg)), (3, bytearray(b"garbage")),
         (4, None)],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_image_meta(media).collect()}
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"],
            rows[1]["channels"]) == ("png", 6, 4, 3)
    assert rows[1]["pixel_mean"] == pytest.approx(100.0)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"]) == (
        "jpeg", 320, 200,
    )
    assert rows[3]["format"] is None and rows[4]["format"] is None


def test_feature_extraction(media):
    feats = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert feats[1]["n_bytes"] == 10004
    assert feats[1]["byte_entropy"] > 0
    assert len(feats[1]["feature_vec"]) == 16
    assert feats[2]["byte_entropy"] == 0.0 and feats[2]["head_hash"] == 0
    # determinism
    again = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert feats[1]["head_hash"] == again[1]["head_hash"]


def test_box_downsample_goldens():
    """Hand-computed goldens for even dims, odd dims (truncated edge
    blocks), multi-channel independence, identity scale, and the
    scale<1 contract."""
    # 4x4 gray ramp, scale 2: block means 2.5/4.5/10.5/12.5 round
    # half-away-from-zero to 3/5/11/13
    px = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert np.array_equal(
        box_downsample(px, 2).reshape(2, 2), [[3, 5], [11, 13]]
    )
    # 5x3 gray ramp, scale 2: edge blocks truncate to 2x1 / 1x2 / 1x1
    px = np.arange(15, dtype=np.uint8).reshape(5, 3)
    assert np.array_equal(
        box_downsample(px, 2).reshape(3, 2), [[2, 4], [8, 10], [13, 14]]
    )
    # channels average independently: 2x2 RGB -> 1x1 with per-channel means
    px = np.array(
        [[[0, 100, 200], [10, 110, 210]], [[20, 120, 220], [30, 130, 230]]],
        dtype=np.uint8,
    )
    assert np.array_equal(box_downsample(px, 2).reshape(3), [15, 115, 215])
    # scale 1 is the identity
    px = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert np.array_equal(box_downsample(px, 1).reshape(3, 4), px)
    with pytest.raises(ValueError, match="scale"):
        box_downsample(px, 0)


def test_resize_images_spark(spark):
    """resize_images over Spark: decode -> box_downsample -> encode ->
    re-decode; emitted metadata comes from the RE-DECODED bytes so the
    assertion proves the full loop. Garbage / JPEG (no pixel tier) -> NULL
    columns, never a stage kill."""
    png = encode_png(np.arange(16, dtype=np.uint8).reshape(4, 4))
    jpg = _jpeg_header(64, 64)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg)), (3, bytearray(b"junk"))],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in resize_images(media, scale=2).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (2, 2, 1)
    assert rows[1]["pixel_mean"] == pytest.approx(8.0)  # (3+5+11+13)/4
    assert np.array_equal(
        parse_png(bytes(rows[1]["payload"]))["pixels"].reshape(2, 2),
        [[3, 5], [11, 13]],
    )
    assert rows[2]["payload"] is None and rows[2]["width"] is None
    assert rows[3]["payload"] is None


def test_wav_round_trip():
    """encode_wav -> parse_wav recovers exact int16 samples (mono and
    stereo), metadata, and RMS/peak goldens."""
    rng = np.random.default_rng(7)
    for ch in (1, 2):
        s = rng.integers(-32768, 32768, size=(50, ch), dtype=np.int16)
        m = parse_wav(encode_wav(s, sample_rate=16000))
        assert (m["channels"], m["sample_rate"], m["bit_depth"], m["n_frames"]) == (
            ch, 16000, 16, 50,
        )
        assert m["duration_sec"] == pytest.approx(50 / 16000)
        assert np.array_equal(m["samples"], s)
    # RMS golden: samples [3, -4] -> sqrt((9+16)/2) = sqrt(12.5); peak 4
    m = parse_wav(encode_wav(np.array([3, -4], dtype=np.int16)))
    assert m["rms"] == pytest.approx(12.5 ** 0.5)
    assert m["peak"] == 4


def test_wav_chunk_padding_and_tiers():
    """RIFF chunks are word-aligned: an odd-length chunk before `data`
    carries a pad byte the walker must skip. Compressed encodings
    (ADPCM, format code 2) decode metadata + frame count but not
    samples (documented tier; 8-bit PCM decodes for real since r12)."""
    body = encode_wav(np.array([100, -100, 7], dtype=np.int16), sample_rate=8000)
    # splice an odd-length LIST chunk between fmt and data
    fmt_end = body.index(b"data")
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3 bytes + pad
    spliced = body[:fmt_end] + odd + body[fmt_end:]
    m = parse_wav(spliced)
    assert m["n_frames"] == 3 and np.array_equal(
        m["samples"].reshape(3), [100, -100, 7]
    )
    # compressed tier: rewrite fmt's format code to 2 (ADPCM) ->
    # metadata + frame count, no samples
    fmt_pos = body.index(b"fmt ") + 8
    fmt = bytearray(body)
    struct.pack_into("<H", fmt, fmt_pos, 2)
    m = parse_wav(bytes(fmt))
    assert m["bit_depth"] == 16 and m["samples"] is None and m["rms"] is None
    assert m["n_frames"] == 3
    with pytest.raises(ValueError, match="RIFF"):
        parse_wav(b"not audio at all")


def test_wav_depth_and_float_tiers():
    """r12: every integer-PCM depth and IEEE float decodes for real —
    8-bit (unsigned midpoint-128, centered so silence is 0), 24-bit
    (3-byte frames to int32, sign preserved), 32-bit (full-scale peak
    exceeds int32 — peak is a double now), float32/float64 (float
    RMS/peak), and the WAVE_FORMAT_EXTENSIBLE header that Windows
    encoders emit unwraps to its SubFormat."""
    rng = np.random.default_rng(3)

    s8 = rng.integers(0, 256, (30,), dtype=np.uint8)
    m = parse_wav(encode_wav(s8, 8000, encoding="pcm8"))
    assert m["bit_depth"] == 8
    assert np.array_equal(m["samples"][:, 0], s8.astype(np.int16) - 128)

    s24 = rng.integers(-(1 << 23), 1 << 23, (25, 2), dtype=np.int32)
    m = parse_wav(encode_wav(s24, 48000, encoding="pcm24"))
    assert m["bit_depth"] == 24 and np.array_equal(m["samples"], s24)
    with pytest.raises(ValueError, match="24 bits"):
        encode_wav(np.array([1 << 23]), encoding="pcm24")

    s32 = np.array([[np.iinfo(np.int32).min], [5]], dtype=np.int32)
    m = parse_wav(encode_wav(s32, 8000, encoding="pcm32"))
    assert np.array_equal(m["samples"], s32)
    assert m["peak"] == 2_147_483_648  # |INT32_MIN| — overflows int32

    f32 = rng.standard_normal((20, 1)).astype(np.float32)
    m = parse_wav(encode_wav(f32, 16000, encoding="float32"))
    assert np.array_equal(m["samples"], f32)
    assert isinstance(m["peak"], float)
    assert m["rms"] == pytest.approx(
        float(np.sqrt((f32.astype(np.float64) ** 2).mean()))
    )

    f64 = rng.standard_normal((11, 2))
    m = parse_wav(encode_wav(f64, 16000, encoding="float64"))
    assert np.array_equal(m["samples"], f64) and m["bit_depth"] == 64

    # EXTENSIBLE wrapper: the SubFormat GUID's Data1 is the real code
    s16 = rng.integers(-32768, 32768, (40, 2), dtype=np.int16)
    m = parse_wav(encode_wav(s16, 44100, extensible=True))
    assert np.array_equal(m["samples"], s16)
    m = parse_wav(encode_wav(f32, 16000, encoding="float32", extensible=True))
    assert np.array_equal(m["samples"], f32)


from person_linkage_case_study_spark.multimodal.media import (  # noqa: E402
    encode_flac_streaminfo as _flac_bytes,
)
from person_linkage_case_study_spark.multimodal.media import (  # noqa: E402
    encode_gif_skeleton as _gif_bytes,
)
from person_linkage_case_study_spark.multimodal.media import (  # noqa: E402
    encode_ogg,
)


def test_png_depths_and_interlace():
    """r12: PNG decodes at every legal depth/layout — 16-bit samples
    come back as uint16, 1/2/4-bit gray bit-unpacks and scales to the
    0-255 range viewers render (x255/x85/x17), sub-8-bit palette
    indexes expand through PLTE, and Adam7 interlaced streams decode
    all seven independently-filtered passes (including images smaller
    than the 8x8 pass grid, whose early passes are empty)."""
    rng = np.random.default_rng(11)

    for c in (1, 3, 4):
        px = rng.integers(0, 65536, (9, 6, c), np.uint16)
        m = parse_png(encode_png(px.squeeze() if c == 1 else px, bit_depth=16))
        assert m["pixels"].dtype == np.uint16 and m["bit_depth"] == 16
        assert np.array_equal(m["pixels"].squeeze(), px.squeeze())
        assert m["pixel_mean"] == pytest.approx(float(px.mean()))

    for d, scale in ((1, 255), (2, 85), (4, 17)):
        px = rng.integers(0, 1 << d, (11, 13), np.uint8)
        m = parse_png(encode_png(px, bit_depth=d))
        assert np.array_equal(m["pixels"].squeeze(), px * scale)
    with pytest.raises(ValueError, match="range"):
        encode_png(np.array([[4]], np.uint8), bit_depth=2)

    pal = rng.integers(0, 256, (16, 3), np.uint8)
    for d in (1, 2, 4):
        px = rng.integers(0, min(16, 1 << d), (10, 9), np.uint8)
        m = parse_png(encode_png(px, palette=pal, bit_depth=d))
        assert np.array_equal(m["pixels"], pal[px]) and m["channels"] == 3

    for h, w in ((16, 16), (13, 7), (3, 2), (1, 1), (8, 5)):
        px = rng.integers(0, 256, (h, w, 3), np.uint8)
        assert np.array_equal(
            parse_png(encode_png(px, interlace=True))["pixels"], px
        )
    px = rng.integers(0, 65536, (12, 10), np.uint16)
    assert np.array_equal(
        parse_png(encode_png(px, bit_depth=16, interlace=True))[
            "pixels"
        ].squeeze(),
        px,
    )
    px = rng.integers(0, 4, (14, 11), np.uint8)
    assert np.array_equal(
        parse_png(encode_png(px, bit_depth=2, interlace=True))[
            "pixels"
        ].squeeze(),
        px * 85,
    )
    px = rng.integers(0, 16, (9, 4), np.uint8)
    assert np.array_equal(
        parse_png(encode_png(px, palette=pal, bit_depth=4, interlace=True))[
            "pixels"
        ],
        pal[px],
    )

    # an interlaced stream whose IDAT is cut mid-pass raises (→ NULL
    # row through the kernel), and decode_image serves the new layouts
    full = encode_png(rng.integers(0, 256, (16, 16, 3), np.uint8),
                      interlace=True)
    idat = full.index(b"IDAT")
    cut = bytearray(full[: idat + 40])
    struct.pack_into(">I", cut, idat - 4, 36)  # shrink the IDAT length
    with pytest.raises(Exception):
        parse_png(bytes(cut))
    px = rng.integers(0, 65536, (5, 5), np.uint16)
    assert np.array_equal(
        decode_image(encode_png(px, bit_depth=16)).squeeze(), px
    )


def test_gif_bmp_webp_metadata():
    """r12 crawl-format widening: GIF dims + REAL frame count from the
    block walk (no LZW decode), BMP full pixel decode for uncompressed
    24/32-bpp (both row orders, stride padding), WebP dims/alpha across
    all three container layouts (VP8 lossy, VP8L lossless, VP8X
    extended)."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_bmp,
        parse_bmp,
        parse_gif,
        parse_webp,
    )

    m = parse_gif(_gif_bytes(320, 200, 3))
    assert (m["width"], m["height"], m["n_frames"]) == (320, 200, 3)
    assert m["channels"] == 3 and m["pixels"] is None
    # truncated mid-frame: the walk keeps the consistent prefix
    assert parse_gif(_gif_bytes(10, 10, 2)[:-12])["n_frames"] == 1
    with pytest.raises(ValueError, match="GIF"):
        parse_gif(b"GIF89a")  # truncated header

    rng = np.random.default_rng(5)
    for ch in (3, 4):
        for td in (False, True):
            px = rng.integers(0, 256, (7, 5, ch), dtype=np.uint8)
            m = parse_bmp(encode_bmp(px, top_down=td))
            assert np.array_equal(m["pixels"], px)
            assert m["pixel_mean"] == float(px.mean())
            assert m["channels"] == ch and m["bit_depth"] == 8
    # compressed (BI_RLE8) or truncated pixel arrays: metadata tier
    payload = bytearray(encode_bmp(np.zeros((4, 4, 3), np.uint8)))
    struct.pack_into("<I", payload, 30, 1)  # compression = BI_RLE8
    m = parse_bmp(bytes(payload))
    assert (m["width"], m["height"]) == (4, 4) and m["pixels"] is None
    m = parse_bmp(encode_bmp(np.zeros((4, 4, 3), np.uint8))[:-8])
    assert m["pixels"] is None

    vp8 = (
        b"RIFF" + struct.pack("<I", 30) + b"WEBP"
        + b"VP8 " + struct.pack("<I", 10)
        + b"\x00\x00\x00\x9d\x01\x2a"
        + struct.pack("<HH", 640 | 0x4000, 480)  # scale bits masked off
    )
    m = parse_webp(vp8)
    assert (m["width"], m["height"], m["channels"]) == (640, 480, 3)
    bits = 639 | (479 << 14) | (1 << 28)  # alpha bit set
    vp8l = (
        b"RIFF" + struct.pack("<I", 20) + b"WEBP"
        + b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    )
    m = parse_webp(vp8l)
    assert (m["width"], m["height"], m["channels"]) == (640, 480, 4)
    vp8x = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBP"
        + b"VP8X" + struct.pack("<I", 10) + bytes([0x10, 0, 0, 0])
        + (799).to_bytes(3, "little") + (599).to_bytes(3, "little")
    )
    m = parse_webp(vp8x)
    assert (m["width"], m["height"], m["channels"]) == (800, 600, 4)
    with pytest.raises(ValueError, match="keyframe"):
        parse_webp(vp8.replace(b"\x9d\x01\x2a", b"\x00\x00\x00"))


def test_gif_pixel_decode():
    """late r12: the GIF first-frame pixel tier — real variable-width
    LZW (width growth to 12 bits, table-full reset, the KwKwK
    first-unseen-code case), 4-pass interlace row order, palette
    expansion, sub-255-block chunking; the structure-only skeleton
    stays metadata-tier."""
    from person_linkage_case_study_spark.multimodal.media import (
        _gif_lzw_decode,
        _gif_lzw_encode,
        encode_gif,
        encode_gif_skeleton,
        parse_gif,
    )

    rng = np.random.default_rng(9)
    # raw LZW round-trips: tiny, width-growth, 4096-reset, KwKwK runs
    for n, alpha, mc in ((10, 4, 2), (5000, 4, 2), (100000, 256, 8),
                         (300000, 8, 3), (1, 2, 2), (0, 2, 2)):
        data = rng.integers(0, alpha, n, dtype=np.uint8).tobytes()
        assert _gif_lzw_decode(_gif_lzw_encode(data, mc), mc, n) == data
    data = b"\x01\x01" * 50000  # degenerate run: KwKwK every other code
    assert _gif_lzw_decode(_gif_lzw_encode(data, 2), 2, len(data)) == data

    pal = rng.integers(0, 256, (16, 3), np.uint8)
    for h, w in ((1, 1), (7, 5), (40, 33), (16, 16)):
        for inter in (False, True):
            idx = rng.integers(0, 16, (h, w), np.uint8)
            m = parse_gif(encode_gif(idx, pal, interlace=inter))
            assert m["n_frames"] == 1
            assert np.array_equal(m["pixels"], pal[idx])
            assert m["pixel_mean"] == float(pal[idx].mean())
    pal256 = rng.integers(0, 256, (256, 3), np.uint8)
    idx = rng.integers(0, 256, (30, 30), np.uint8)
    assert np.array_equal(
        parse_gif(encode_gif(idx, pal256))["pixels"], pal256[idx]
    )
    # 2-entry palette: GIF's LZW floor clamps min_code to 2
    idx = rng.integers(0, 2, (12, 9), np.uint8)
    assert np.array_equal(
        parse_gif(encode_gif(idx, pal[:2]))["pixels"], pal[:2][idx]
    )
    # the fake-LZW skeleton degrades to metadata, frame count intact
    m = parse_gif(encode_gif_skeleton(9, 7, 3))
    assert m["n_frames"] == 3 and m["pixels"] is None
    # truncated LZW data: metadata tier, not a throw
    full = encode_gif(rng.integers(0, 16, (20, 20), np.uint8), pal)
    m = parse_gif(full[:40] + b"\x00\x3b")
    assert m["pixels"] is None and (m["width"], m["height"]) == (20, 20)


def test_flac_ogg_metadata():
    """r12: FLAC STREAMINFO bit unpacking (20-bit rate, 3-bit channels,
    5-bit depth, 36-bit total samples → exact duration) and Ogg page
    walks for Opus (48 kHz granules minus pre-skip) and Vorbis
    (stream-rate granules), truncation-tolerant."""
    from person_linkage_case_study_spark.multimodal.media import (
        parse_flac,
        parse_ogg,
    )

    m = parse_flac(_flac_bytes(44100, 2, 16, 441000))
    assert (m["channels"], m["sample_rate"], m["bit_depth"]) == (2, 44100, 16)
    assert m["duration_sec"] == 10.0 and m["n_frames"] == 441000
    # odd widths: 96 kHz 24-bit mono; total 0 = 'unknown' per spec
    m = parse_flac(_flac_bytes(96000, 1, 24, 0))
    assert (m["sample_rate"], m["bit_depth"]) == (96000, 24)
    assert m["duration_sec"] is None and m["n_frames"] is None
    with pytest.raises(ValueError, match="FLAC"):
        parse_flac(b"fLaC\x81\x00\x00\x04abcd")  # first block not STREAMINFO

    stream = encode_ogg("opus", 2, 48000, [48312, 96312], pre_skip=312)
    m = parse_ogg(stream)
    assert m["format"] == "opus" and m["channels"] == 2
    assert m["sample_rate"] == 48000
    assert m["duration_sec"] == (96312 - 312) / 48000
    # truncated tail keeps the last WHOLE page's granule
    m = parse_ogg(stream[:-20])
    assert m["duration_sec"] == (48312 - 312) / 48000

    m = parse_ogg(encode_ogg("vorbis", 2, 22050, [44100]))
    assert m["format"] == "vorbis" and m["duration_sec"] == 2.0
    junk = encode_ogg("opus", 1, 48000, []).replace(b"OpusHead", b"NotAHead")
    with pytest.raises(ValueError, match="codec"):
        parse_ogg(junk)


def test_mp4_metadata():
    """late r12: ISO-BMFF box walk — mvhd timescale/duration to exact
    seconds (both mvhd versions share the v0 offsets used here),
    per-trak tkhd 16.16 dims + hdlr handler classification, 64-bit
    largesize tolerance, truncation keeping the parsed prefix."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp4_skeleton,
        parse_mp4,
    )

    m = parse_mp4(
        encode_mp4_skeleton(brand="mp42", timescale=600, duration=7200,
                            video_dims=(1920, 1080), n_audio_tracks=2)
    )
    assert m["duration_sec"] == 12.0
    assert (m["width"], m["height"]) == (1920, 1080)
    assert (m["n_video_tracks"], m["n_audio_tracks"]) == (1, 2)
    assert m["brand"] == "mp42"

    # audio-only container (M4A shape): no dims, no video tracks
    m = parse_mp4(
        encode_mp4_skeleton(brand="M4A ", timescale=44100, duration=441000,
                            n_audio_tracks=1)
    )
    assert m["duration_sec"] == 10.0 and m["width"] is None
    assert (m["n_video_tracks"], m["n_audio_tracks"]) == (0, 1)

    # a box rewritten to 64-bit largesize still walks
    full = bytearray(
        encode_mp4_skeleton(video_dims=(640, 480), timescale=1000,
                            duration=5000)
    )
    i = full.index(b"moov") - 4
    size = struct.unpack(">I", full[i : i + 4])[0]
    large = (
        b"\x00\x00\x00\x01" + b"moov" + struct.pack(">Q", size + 8)
        + full[i + 8 : i + size]
    )
    m = parse_mp4(bytes(full[:i]) + large)
    assert m["duration_sec"] == 5.0 and m["width"] == 640

    # truncation mid-moov keeps the ftyp prefix; pure garbage raises
    m = parse_mp4(bytes(full[:30]))
    assert m["brand"] == "isom" and m["duration_sec"] is None
    with pytest.raises(ValueError, match="ISO-BMFF"):
        parse_mp4(b"\x00" * 40)


def test_mp4_mvhd_version1():
    """r13 (ADVICE): a version-1 mvhd needs 32 body bytes (timescale at
    +20, 64-bit duration at +24); a well-formed one parses exactly, and
    a TRUNCATED v1 body (28-31 bytes) must yield duration=None — never
    fall through to the v0 offsets, whose bytes there are creation /
    modification time, nor read past the box end into the next box."""
    from person_linkage_case_study_spark.multimodal.media import parse_mp4

    def mp4_with_mvhd(body: bytes) -> bytes:
        def box(tag: bytes, b: bytes) -> bytes:
            return struct.pack(">I", len(b) + 8) + tag + b

        return box(b"ftyp", b"isom\x00\x00\x02\x00") + box(
            b"moov", box(b"mvhd", body)
        )

    # proper v1: version byte 1, creation/modification 8 bytes each,
    # timescale at +20, 64-bit duration at +24
    v1 = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">I", 90000)
        + struct.pack(">Q", 450000)
    )
    assert parse_mp4(mp4_with_mvhd(v1))["duration_sec"] == 5.0

    # truncated v1 bodies (28..31 bytes): metadata-only None, and — the
    # ADVICE scenario — NOT a garbage value assembled from the bytes of
    # whatever box follows the short mvhd
    for cut in (28, 29, 30, 31):
        short = v1[:cut]
        m = parse_mp4(mp4_with_mvhd(short))
        assert m["duration_sec"] is None, cut
        # same short mvhd followed by a sibling box whose bytes would
        # have been misread as the duration tail before the r13 guard
        trailer = struct.pack(">I", 16) + b"free" + b"\xff" * 8
        def box(tag, b):
            return struct.pack(">I", len(b) + 8) + tag + b
        payload = box(b"ftyp", b"isom\x00\x00\x02\x00") + box(
            b"moov", box(b"mvhd", short) + trailer
        )
        assert parse_mp4(payload)["duration_sec"] is None, cut


def test_mp4_seek_tables():
    """r15: stsz/stss/stco/co64 sample tables — the seek-relevant tier a
    frame-sampling pipeline needs (keyframe density, per-sample byte
    budget, chunk layout). Closed-form round trips through the skeleton
    encoder, plus the truncation discipline: a declared entry count that
    overruns its box yields None, never a partial sum presented as
    complete (r14 ADVICE applied the same rule to stts)."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp4_skeleton,
        parse_mp4,
    )

    sizes = [101, 250, 99, 310, 205]
    m = parse_mp4(
        encode_mp4_skeleton(
            video_dims=(64, 48),
            video_codec="avc1",
            video_stts=[(5, 100)],
            video_sample_sizes=sizes,
            video_sync_samples=[1, 4],
            video_chunk_offsets=[64, 1024, 9000],
        )
    )
    assert m["n_samples"] == 5
    assert m["total_sample_bytes"] == sum(sizes)
    assert m["max_sample_bytes"] == max(sizes)
    assert m["n_keyframes"] == 2
    assert m["n_chunks"] == 3

    # co64 walks the 8-byte-offset branch to the same chunk count
    m = parse_mp4(
        encode_mp4_skeleton(
            video_dims=(64, 48), video_codec="avc1", video_stts=[(3, 100)],
            video_sample_sizes=[10, 20, 30],
            video_chunk_offsets=[1 << 33, 1 << 34], use_co64=True,
        )
    )
    assert m["n_chunks"] == 2 and m["total_sample_bytes"] == 60

    # fixed-size stsz short-circuits: total = size * count
    m = parse_mp4(
        encode_mp4_skeleton(
            video_dims=(64, 48), video_codec="avc1", video_stts=[(4, 100)],
            video_sample_size=50, video_chunk_offsets=[8],
        )
    )
    assert m["total_sample_bytes"] == 200 and m["max_sample_bytes"] == 50

    # absent stss => every sample is a sync sample (ISO 14496-12 §8.6.2)
    m = parse_mp4(
        encode_mp4_skeleton(
            video_dims=(64, 48), video_codec="avc1", video_stts=[(7, 100)],
            video_sample_sizes=[9] * 7,
        )
    )
    assert m["n_keyframes"] == 7

    # truncation discipline across all four boxes: chop the payload so
    # the declared counts overrun — every affected stat must null out,
    # and the walk itself must not throw
    full = encode_mp4_skeleton(
        video_dims=(64, 48), video_codec="avc1", video_stts=[(5, 100)],
        video_sample_sizes=sizes, video_sync_samples=[1, 4],
        video_chunk_offsets=[64, 1024],
    )
    # hand-build a corrupt stsz: declares 5 entries, carries 1
    def box(tag: bytes, b: bytes) -> bytes:
        return struct.pack(">I", len(b) + 8) + tag + b

    bad_stsz = box(
        b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 5) + struct.pack(">I", 7)
    )
    stsd = box(
        b"stsd",
        b"\x00" * 4 + struct.pack(">I", 1)
        + struct.pack(">I", 16) + b"avc1" + b"\x00" * 8,
    )
    stts = box(b"stts", b"\x00" * 4 + struct.pack(">I", 1) + struct.pack(">II", 5, 100))
    bad_stss = box(b"stss", b"\x00" * 4 + struct.pack(">I", 9))
    bad_stco = box(b"stco", b"\x00" * 4 + struct.pack(">I", 4) + struct.pack(">I", 64))
    stbl = box(b"stbl", stsd + stts + bad_stsz + bad_stss + bad_stco)
    mdia = box(
        b"mdia",
        box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
        + box(b"minf", stbl),
    )
    trak = box(
        b"trak",
        box(b"tkhd", b"\x00" * 76 + struct.pack(">II", 64 << 16, 48 << 16)) + mdia,
    )
    payload = box(b"ftyp", b"isom\x00\x00\x02\x00") + box(b"moov", trak)
    m = parse_mp4(payload)
    assert m["n_samples"] == 5  # intact stts still parses
    assert m["total_sample_bytes"] is None and m["max_sample_bytes"] is None
    # corrupt stss must NOT fall back to "all sync" — the box exists but
    # lies, so n_keyframes degrades to the all-sync reading only when the
    # box is genuinely absent; here the declared count overruns, and the
    # spec fallback would fabricate density from a corrupt table
    assert m["n_keyframes"] is None
    assert m["n_chunks"] is None

    # stts overrun (the r14 ADVICE scenario): declared count overruns ->
    # n_samples/fps None, not an undercounted prefix
    bad_stts = box(
        b"stts", b"\x00" * 4 + struct.pack(">I", 9) + struct.pack(">II", 5, 100)
    )
    stbl = box(b"stbl", stsd + bad_stts)
    mdia = box(
        b"mdia",
        box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
        + box(b"minf", stbl),
    )
    trak = box(
        b"trak",
        box(b"tkhd", b"\x00" * 76 + struct.pack(">II", 64 << 16, 48 << 16)) + mdia,
    )
    payload = box(b"ftyp", b"isom\x00\x00\x02\x00") + box(b"moov", trak)
    m = parse_mp4(payload)
    assert m["n_samples"] is None and m["fps"] is None


def test_extract_video_meta_spark(spark):
    """The video kernel over Spark: MP4-family rows land with duration /
    dims / track counts, non-video payloads NULL out."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp4_skeleton,
        extract_video_meta,
    )

    df = spark.createDataFrame(
        [
            (1, bytearray(encode_mp4_skeleton(
                timescale=1000, duration=2500, video_dims=(320, 240),
                n_audio_tracks=1))),
            (2, bytearray(b"RIFFxxxxWAVE")),
            (3, bytearray(b"\x00\x00\x00\x08ftyp")),  # truncated ftyp
            (4, None),
        ],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_video_meta(media).collect()}
    assert rows[1]["duration_sec"] == 2.5 and rows[1]["width"] == 320
    assert rows[1]["n_audio_tracks"] == 1
    assert rows[2]["format"] is None and rows[4]["format"] is None


def test_extract_meta_new_formats_spark(spark):
    """The widened kernels over Spark: GIF/BMP/WebP rows land with real
    metadata (BMP with a real pixel mean, GIF with its frame count),
    FLAC/Opus rows land with exact durations, corrupt variants of each
    degrade to NULL columns — never a stage kill."""
    from person_linkage_case_study_spark.multimodal.media import encode_bmp

    px = np.full((6, 4, 3), 77, np.uint8)
    img_df = spark.createDataFrame(
        [
            (1, bytearray(_gif_bytes(33, 21, 2))),
            (2, bytearray(encode_bmp(px))),
            (3, bytearray(b"RIFF\x00\x00\x00\x00WEBPJUNK")),
            (4, bytearray(b"BMgarbage")),
        ],
        "media_id long, payload binary",
    )
    media = attach_media_payload(img_df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_image_meta(media).collect()}
    assert (rows[1]["format"], rows[1]["n_frames"]) == ("gif", 2)
    assert rows[2]["format"] == "bmp" and rows[2]["pixel_mean"] == 77.0
    assert rows[3]["format"] is None and rows[4]["format"] is None

    aud_df = spark.createDataFrame(
        [
            (1, bytearray(_flac_bytes(22050, 1, 16, 22050))),
            (2, bytearray(encode_ogg("opus", 1, 48000, [9600]))),
            (3, bytearray(b"fLaC")),
            (4, bytearray(b"OggSgarbage")),
        ],
        "media_id long, payload binary",
    )
    media = attach_media_payload(aud_df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_audio_meta(media).collect()}
    assert rows[1]["format"] == "flac" and rows[1]["duration_sec"] == 1.0
    assert rows[2]["format"] == "opus" and rows[2]["duration_sec"] == 0.2
    assert rows[3]["format"] is None and rows[4]["format"] is None


def _l2_fuzz_fixture(rng):
    """A valid-by-construction Layer II frame over the fixture table
    (random allocations/classes/codes) for the truncate/mutate arms."""
    from person_linkage_case_study_spark.multimodal.mpeg_audio import (
        design_alloc_table,
        encode_layer2,
    )

    tab = design_alloc_table()
    rows = tab["rows"]
    alloc = np.zeros((1, 32), np.int64)
    scf = np.zeros((1, 32, 3), np.int64)
    codes = np.zeros((36, 1, 32), np.int64)
    for sb in range(tab["sblimit"]):
        a = int(rng.integers(0, len(rows[sb][1]) + 1))
        alloc[0, sb] = a
        if a:
            scf[0, sb, :] = rng.integers(0, 63)
            codes[:, 0, sb] = rng.integers(0, rows[sb][1][a - 1], 36)
    return encode_layer2(
        [{"alloc": alloc, "scf": scf, "codes": codes,
          "scfsi": np.full((1, 32), 2, np.int64)}],
        alloc_table=tab, mode="mono",
    )


@settings(max_examples=120, deadline=None)
@given(
    kind=st.sampled_from(
        ["gif", "bmp", "webp", "flac", "ogg", "mp3", "wav", "jpeg", "png",
         "mp4",
         # r13 decoders join the same harness: full FLAC PCM frames,
         # animated-GIF composition, paletted/RLE/16-bpp BMP, 12-bit JPEG
         "flac_pcm", "gif_anim", "bmp_pal", "bmp_rle", "bmp16", "jpeg12",
         # r14: MPEG-1 Layer I/II frame-layer decode, mp4 sample tables
         "mpeg_l1", "mpeg_l2", "mp4_stbl"]
    ),
    mode=st.sampled_from(["junk", "truncate", "mutate"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_media_parser_fuzz(kind, mode, seed):
    """r12: every parser, fed (a) random bytes behind its magic, (b) a
    valid payload truncated at a random point, (c) a valid payload with
    random byte flips, must RETURN or RAISE — promptly, with no hang,
    unbounded allocation, or interpreter-level error. The Spark kernels
    catch Exception per row, so the property that matters at 100 TB is
    termination, not the exception type."""
    from person_linkage_case_study_spark.multimodal.flac import (
        decode_flac_pcm,
        encode_flac,
    )
    from person_linkage_case_study_spark.multimodal.media import (
        decode_gif_frames,
        encode_bmp,
        encode_bmp16,
        encode_bmp_paletted,
        encode_flac_streaminfo,
        encode_gif_animation,
        encode_gif_skeleton,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
        encode_mp3_frames,
        encode_mp4_skeleton,
        encode_ogg,
        parse_bmp,
        parse_flac,
        parse_gif,
        parse_jpeg,
        parse_mp3,
        parse_mp4,
        parse_ogg,
        parse_webp,
    )

    from person_linkage_case_study_spark.multimodal.mpeg_audio import (
        decode_layer1,
        decode_layer2,
        design_alloc_table,
        encode_layer1,
    )

    rng = np.random.default_rng(seed)
    magic = {
        "gif": b"GIF89a", "bmp": b"BM", "webp": b"RIFF\x20\x00\x00\x00WEBP",
        "flac": b"fLaC", "ogg": b"OggS", "mp3": b"\xff\xfb",
        "wav": b"RIFF\x20\x00\x00\x00WAVE", "jpeg": b"\xff\xd8\xff",
        "png": b"\x89PNG\r\n\x1a\n",
        "mp4": b"\x00\x00\x00\x14ftypisom",
        "flac_pcm": b"fLaC", "gif_anim": b"GIF89a", "bmp_pal": b"BM",
        "bmp_rle": b"BM", "bmp16": b"BM", "jpeg12": b"\xff\xd8\xff",
        "mpeg_l1": b"\xff\xff", "mpeg_l2": b"\xff\xfd",
        "mp4_stbl": b"\x00\x00\x00\x14ftypisom",
    }[kind]
    parser = {
        "gif": parse_gif, "bmp": parse_bmp, "webp": parse_webp,
        "flac": parse_flac, "ogg": parse_ogg, "mp3": parse_mp3,
        "wav": parse_wav, "jpeg": parse_jpeg, "png": parse_png,
        "mp4": parse_mp4,
        "flac_pcm": decode_flac_pcm, "gif_anim": decode_gif_frames,
        "bmp_pal": parse_bmp, "bmp_rle": parse_bmp, "bmp16": parse_bmp,
        "jpeg12": parse_jpeg,
        "mpeg_l1": decode_layer1,
        "mpeg_l2": lambda p: decode_layer2(p, design_alloc_table()),
        "mp4_stbl": parse_mp4,
    }[kind]
    if mode == "junk":
        payload = magic + rng.integers(0, 256, 200, dtype=np.uint8).tobytes()
    else:
        valid = {
            "gif": lambda: encode_gif_skeleton(9, 7, 3),
            "bmp": lambda: encode_bmp(
                rng.integers(0, 256, (5, 3, 3), np.uint8)
            ),
            "webp": lambda: (
                b"RIFF\x1e\x00\x00\x00WEBPVP8 \x0a\x00\x00\x00"
                b"\x00\x00\x00\x9d\x01\x2a\x09\x00\x07\x00"
            ),
            "flac": lambda: encode_flac_streaminfo(44100, 2, 16, 44100),
            "ogg": lambda: encode_ogg("opus", 2, 48000, [960, 1920]),
            "mp3": lambda: encode_mp3_frames(6, vbr_tag="xing",
                                             vbr_frame_count=6,
                                             global_gain=100,
                                             short_blocks=(False, True)),
            "wav": lambda: encode_wav(
                rng.integers(-999, 999, (20, 2)).astype(np.int16)
            ),
            "jpeg": lambda: encode_jpeg_progressive(
                rng.integers(0, 256, (10, 11), np.uint8)
            ),
            "png": lambda: encode_png(
                rng.integers(0, 256, (6, 5, 3), np.uint8)
            ),
            "mp4": lambda: encode_mp4_skeleton(
                timescale=1000, duration=4000, video_dims=(64, 48)
            ),
            "flac_pcm": lambda: encode_flac(
                np.cumsum(rng.integers(-40, 41, (96, 2)), 0).astype(
                    np.int64
                ),
                8000, block_size=64, subframe="fixed", order=2,
                stereo="mid_side", partition_order=1,
            ),
            "gif_anim": lambda: encode_gif_animation(
                [
                    {"indexes": rng.integers(0, 4, (5, 6)).astype(np.uint8),
                     "delay_cs": 5, "disposal": 2, "transparent": 3},
                    {"indexes": rng.integers(0, 4, (3, 3)).astype(np.uint8),
                     "left": 2, "top": 1, "disposal": 3},
                ],
                rng.integers(0, 256, (4, 3), np.uint8),
            ),
            "bmp_pal": lambda: encode_bmp_paletted(
                rng.integers(0, 16, (6, 5)).astype(np.uint8),
                rng.integers(0, 256, (16, 3), np.uint8),
                bpp=int(rng.choice([4, 8])),
            ),
            "bmp_rle": lambda: encode_bmp_paletted(
                rng.integers(0, 8, (5, 9)).astype(np.uint8),
                rng.integers(0, 256, (8, 3), np.uint8), rle=True,
            ),
            "bmp16": lambda: encode_bmp16(
                rng.integers(0, 256, (4, 7, 3), np.uint8),
                bits=str(rng.choice(["555", "565"])),
            ),
            "jpeg12": lambda: encode_jpeg_baseline(
                rng.integers(0, 4096, (9, 13)).astype(np.int64),
                precision=12,
            ),
            "mpeg_l1": lambda: encode_layer1(
                # alloc <= 5 (nb <= 6): all-32-subband stereo fits the
                # 448 kbps slot; higher widths legitimately refuse
                [{
                    "alloc": rng.integers(0, 6, (2, 32)),
                    "scf": rng.integers(0, 63, (2, 32)),
                    "codes": np.zeros((12, 2, 32), np.int64),
                }],
                mode="stereo",
            ),
            "mpeg_l2": lambda: _l2_fuzz_fixture(rng),
            "mp4_stbl": lambda: encode_mp4_skeleton(
                timescale=1000, duration=4000, video_dims=(64, 48),
                video_codec="avc1", video_stts=[(12, 100), (6, 200)],
            ),
        }[kind]()
        if mode == "truncate":
            payload = valid[: int(rng.integers(0, len(valid)))]
        else:
            payload = bytearray(valid)
            for _ in range(int(rng.integers(1, 6))):
                payload[int(rng.integers(0, len(payload)))] = int(
                    rng.integers(0, 256)
                )
            payload = bytes(payload)
    try:
        m = parser(payload)
        assert isinstance(m, dict)
    except MemoryError:
        raise AssertionError("parser attempted unbounded allocation")
    except RecursionError:
        raise AssertionError("parser recursed unboundedly")
    except Exception:
        pass  # documented: corrupt payloads raise; kernels NULL the row


def test_mp3_frame_walk():
    """r11: MPEG-audio frame-header parse — exact per-frame duration
    arithmetic across versions and layers, ID3v2 skip, VBR detection,
    truncated-tail tolerance, free-format and garbage stops."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp3_frames,
        parse_mp3,
    )

    m = parse_mp3(encode_mp3_frames(38, bitrate_kbps=128, sample_rate=44100))
    assert (m["format"], m["n_frames"], m["channels"], m["layer"]) == (
        "mp3", 38, 2, 3,
    )
    assert m["duration_sec"] == pytest.approx(38 * 1152 / 44100)
    assert m["bitrate_kbps"] == 128.0 and not m["vbr"]
    assert m["samples"] is None and m["rms"] is None  # documented tier

    # MPEG-2 Layer III halves samples/frame to 576; ID3v2 tag skipped
    m = parse_mp3(
        encode_mp3_frames(
            10, bitrate_kbps=64, sample_rate=22050, channels=1,
            version="2", id3_bytes=333,
        )
    )
    assert (m["version"], m["channels"], m["n_frames"]) == ("2", 1, 10)
    assert m["duration_sec"] == pytest.approx(10 * 576 / 22050)

    # Layers I and II frame-length formulas
    for lay, samples in ((1, 384), (2, 1152)):
        m = parse_mp3(encode_mp3_frames(5, bitrate_kbps=192, layer=lay))
        assert m["layer"] == lay
        assert m["duration_sec"] == pytest.approx(5 * samples / 44100)

    # VBR: two concatenated bitrates -> mean bitrate + vbr flag
    vbr = parse_mp3(
        encode_mp3_frames(3, bitrate_kbps=128)
        + encode_mp3_frames(3, bitrate_kbps=192)
    )
    assert vbr["vbr"] and vbr["n_frames"] == 6
    assert vbr["bitrate_kbps"] == pytest.approx(160.0)

    # a truncated final frame is not counted; pure garbage raises
    assert parse_mp3(encode_mp3_frames(4)[:-10])["n_frames"] == 3
    with pytest.raises(ValueError, match="MPEG"):
        parse_mp3(b"\x00\x01 not audio")


def test_id3_tag_extraction(spark):
    """r12: ID3v2 text-frame extraction across tag versions and text
    encodings — the dedup/join keys audio curation carries. v2.4
    syncsafe frames (UTF-8/UTF-16BE), v2.3 plain-size frames (UTF-16
    with BOM), v2.2 3-char ancestors (latin-1), footer interplay with
    parse_mp3, NUL/padding stripping, truncation → consistent prefix,
    and the Spark kernel's NULL contract."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_id3_tag,
        encode_mp3_frames,
        extract_audio_tags,
        parse_id3_tags,
        parse_mp3,
    )

    tag = encode_id3_tag(
        {"TIT2": "Ümläut Song", "TPE1": "Artist ñ", "TALB": "Al\x00pad",
         "TDRC": "2003-04", "TCON": "Jazz"}
    )
    tags = parse_id3_tags(tag + encode_mp3_frames(3))
    assert tags == {"title": "Ümläut Song", "artist": "Artist ñ",
                    "album": "Al", "year": "2003-04", "genre": "Jazz"}

    assert parse_id3_tags(
        encode_id3_tag({"TIT2": "Sixteen", "TYER": "1999"}, version=3,
                       encoding=1)
    ) == {"title": "Sixteen", "year": "1999"}
    assert parse_id3_tags(
        encode_id3_tag({"TIT2": "BigEndian"}, encoding=2)
    ) == {"title": "BigEndian"}
    assert parse_id3_tags(
        encode_id3_tag({"TT2": "Old", "TP1": "Timer"}, version=2, encoding=0)
    ) == {"title": "Old", "artist": "Timer"}

    # a footer-bearing tag: tags readable AND parse_mp3 still walks the
    # frames behind it (the r12 footer skip)
    full = encode_id3_tag({"TIT2": "F"}, footer=True) + encode_mp3_frames(4)
    assert parse_id3_tags(full)["title"] == "F"
    assert parse_mp3(full)["n_frames"] == 4

    # no tag / unsynchronised flag / truncated frame
    assert parse_id3_tags(b"\xff\xfbnotid3") == {}
    assert parse_id3_tags(b"ID3\x04\x00\x80\x00\x00\x00\x05junk!") == {}
    tag2 = encode_id3_tag({"TIT2": "Keep", "TALB": "Lost"})
    assert parse_id3_tags(tag2[: tag2.index(b"TALB") + 6]) == {"title": "Keep"}

    df = spark.createDataFrame(
        [(1, bytearray(tag + encode_mp3_frames(2))),
         (2, bytearray(encode_mp3_frames(2))), (3, bytearray(b"junk")),
         (4, None)],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_audio_tags(media).collect()}
    assert rows[1]["title"] == "Ümläut Song" and rows[1]["genre"] == "Jazz"
    assert rows[2]["title"] is None and rows[3]["artist"] is None
    assert rows[4]["title"] is None


def test_mp3_crawl_hardening():
    """r12 (r11 verdict #3 / advisor): footer-bearing ID3v2.4 tags,
    Xing/Info/VBRI header frames, mid-stream junk resync, and ID3v1
    tails — the shapes real crawl MP3s actually have."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp3_frames,
        parse_mp3,
    )

    # ID3v2.4 FOOTER flag: the 10-byte '3DI' block after the tag is NOT
    # covered by the size field — pre-r12 the walk landed on it, found
    # no sync, and a valid MP3 raised 'no valid MPEG audio frame'
    m = parse_mp3(encode_mp3_frames(5, id3_bytes=100, id3_footer=True))
    assert m["n_frames"] == 5
    assert m["duration_sec"] == pytest.approx(5 * 1152 / 44100)
    # footer flag with a zero-length body is still a valid tag shape
    assert parse_mp3(encode_mp3_frames(3, id3_footer=True))["n_frames"] == 3

    # Xing header frame: excluded from the audio frame count, its
    # frame-count field supplies the duration, and it flags VBR even
    # when every walked frame shares one bitrate
    m = parse_mp3(encode_mp3_frames(10, vbr_tag="xing", vbr_frame_count=10))
    assert m["n_frames"] == 10  # 11 frames on the wire, 1 is the header
    assert m["vbr"] is True
    assert m["duration_sec"] == pytest.approx(10 * 1152 / 44100)

    # Info tag = the CBR variant of the same header: excluded from the
    # count but NOT a VBR signal
    m = parse_mp3(encode_mp3_frames(10, vbr_tag="info"))
    assert m["n_frames"] == 10 and m["vbr"] is False

    # Fraunhofer VBRI: frame count at its fixed offset wins the duration
    # arithmetic even when the walk saw fewer frames (truncated file)
    m = parse_mp3(encode_mp3_frames(7, vbr_tag="vbri", vbr_frame_count=9))
    assert m["n_frames"] == 7 and m["vbr"] is True
    assert m["duration_sec"] == pytest.approx(9 * 1152 / 44100)

    # mid-stream junk (including a spurious 0xFFEx sync word) is skipped
    # by the bounded resync — pre-r12 the walk truncated at the junk
    junk = b"\x01junkjunk\xff\xe3junk\xff"
    m = parse_mp3(encode_mp3_frames(3) + junk + encode_mp3_frames(4))
    assert m["n_frames"] == 7
    assert m["duration_sec"] == pytest.approx(7 * 1152 / 44100)

    # resync must NOT leap into a shape-inconsistent stream: a 44100 Hz
    # prefix followed by junk and a 32000 Hz stream stops at the prefix
    m = parse_mp3(
        encode_mp3_frames(3) + junk + encode_mp3_frames(4, sample_rate=32000)
    )
    assert m["n_frames"] == 3 and m["sample_rate"] == 44100

    # ID3v1 'TAG' tail is excluded so its bytes can't alias a sync word
    m = parse_mp3(encode_mp3_frames(4) + b"TAG" + b"\xff\xfb" + b"\x00" * 123)
    assert m["n_frames"] == 4

    # a payload that is ALL junk past the first frame stays bounded and
    # returns the consistent prefix
    m = parse_mp3(encode_mp3_frames(2) + b"\xff\x00" * 40000)
    assert m["n_frames"] == 2


def test_jpeg_exif():
    """late r12: APP1 EXIF — orientation (the tag phone-camera crawls
    need to interpret dims), Make/Model text (inline and offset values),
    and GPS-IFD PRESENCE as a PII curation signal (coordinates are
    deliberately not extracted), both byte orders; corrupt EXIF keeps
    its defaults without sinking the JPEG parse; the Spark kernel
    carries orientation/has_gps columns."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_exif_app1,
        encode_jpeg_baseline,
        parse_exif,
    )

    img = np.full((8, 8), 90, np.uint8)
    base = encode_jpeg_baseline(img)

    def with_app1(app1):
        return (
            base[:2] + b"\xff\xe1" + struct.pack(">H", len(app1) + 2)
            + app1 + base[2:]
        )

    for bo in ("little", "big"):
        m = parse_jpeg(with_app1(encode_exif_app1(
            orientation=6, make="TestCam Industries", gps=True,
            byte_order=bo,
        )))
        assert m["orientation"] == 6 and m["has_gps"] is True
        assert m["exif_make"] == "TestCam Industries"  # offset-stored text
        assert m["pixel_mean"] == 90.0  # EXIF never blocks the pixel tier

    m = parse_jpeg(with_app1(encode_exif_app1(make="Zed", byte_order="big")))
    assert m["exif_make"] == "Zed"  # inline (<= 4 byte) text value
    assert m["orientation"] is None and m["has_gps"] is False

    # corrupt TIFF header inside APP1: defaults, parse survives
    m = parse_jpeg(with_app1(b"Exif\x00\x00IIxxxxxxxx"))
    assert m["orientation"] is None and m["pixel_mean"] == 90.0
    # no EXIF at all
    assert parse_jpeg(base)["has_gps"] is False
    with pytest.raises(ValueError, match="TIFF"):
        parse_exif(b"XXXXXXXX")


def test_jpeg_pixel_tier_degradation():
    """r12 (r11 advisor): truncated segment bodies (short DRI →
    struct.error, short SOS component list → IndexError) degrade
    parse_jpeg to the metadata tier instead of escaping and nulling
    rows whose header metadata is perfectly readable; megapixel
    payloads skip the bit-serial pure decode on the crawl path."""
    import person_linkage_case_study_spark.multimodal.media as media_mod
    from person_linkage_case_study_spark.multimodal.media import (
        encode_jpeg_baseline,
    )

    img = np.full((8, 8), 77, np.uint8)
    payload = encode_jpeg_baseline(img)
    i = payload.index(b"\xff\xda")

    # DRI marker whose 4-byte body is cut by EOF: struct.error pre-r12
    m = parse_jpeg(payload[:i] + b"\xff\xdd\x00\x04\x00")
    assert (m["width"], m["height"]) == (8, 8) and m["pixels"] is None

    # SOS with the component list cut mid-body: IndexError pre-r12
    m = parse_jpeg(payload[: i + 5])
    assert (m["width"], m["height"]) == (8, 8) and m["pixels"] is None

    # the crawl path skips the pure bit-serial decode above the pixel
    # cap (metadata tier, not a multi-second stall per image) — the
    # explicit decode_image API is NOT capped
    orig = media_mod.PURE_JPEG_PIXEL_LIMIT
    try:
        media_mod.PURE_JPEG_PIXEL_LIMIT = 16
        m = parse_jpeg(payload)
        assert (m["width"], m["height"]) == (8, 8) and m["pixels"] is None
        assert np.array_equal(decode_image(payload), img)
    finally:
        media_mod.PURE_JPEG_PIXEL_LIMIT = orig
    m = parse_jpeg(payload)
    assert m["pixel_mean"] == pytest.approx(77.0)


def test_extract_audio_meta_spark(spark):
    """The audio decode kernel over Spark: WAV fully decoded, MPEG audio
    frame-walked to metadata (r11), garbage / NULL payloads -> NULL
    columns, never a stage kill."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp3_frames,
    )

    wav = encode_wav(np.full(80, 5, dtype=np.int16), sample_rate=8000)
    mp3 = encode_mp3_frames(20, bitrate_kbps=128, sample_rate=44100)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"RIFFjunk")), (3, None),
         (4, bytearray(mp3)), (5, bytearray(b"\xff\xfbgarbage-after-sync"))],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_audio_meta(media).collect()}
    assert (rows[1]["format"], rows[1]["channels"], rows[1]["n_frames"]) == (
        "wav", 1, 80,
    )
    assert rows[1]["duration_sec"] == pytest.approx(0.01)
    assert rows[1]["rms"] == pytest.approx(5.0) and rows[1]["peak"] == 5
    assert rows[2]["format"] is None and rows[3]["format"] is None
    # r11: MPEG audio rides the same kernel at the metadata tier
    assert (rows[4]["format"], rows[4]["channels"], rows[4]["n_frames"]) == (
        "mp3", 2, 20,
    )
    assert rows[4]["duration_sec"] == pytest.approx(20 * 1152 / 44100)
    assert rows[4]["rms"] is None and rows[4]["peak"] is None
    # a sync byte followed by garbage NULLs out, never a stage kill
    assert rows[5]["format"] is None


# --- property tests: the codecs must round-trip ANY payload of their
# declared domain, not just the goldens above -------------------------------

@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    c=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_round_trip_property(h, w, c, seed):
    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, c), dtype=np.uint8)
    m = parse_png(encode_png(px))
    assert (m["width"], m["height"], m["channels"]) == (w, h, c)
    assert np.array_equal(m["pixels"], px)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    color=st.booleans(),
    sub=st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]),
    ri=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_round_trip_property(h, w, color, sub, ri, seed):
    """r11: arbitrary content through encode_jpeg_baseline →
    decode_jpeg_pixels at unit quant. Gray and 4:4:4 color are bounded
    by coefficient/color-transform rounding (≤2 / ≤3 per pixel);
    subsampled chroma is lossy per-pixel by design, so those layouts
    assert the luma-weighted whole-image mean instead (the statistic
    the curation pipeline consumes)."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg_baseline(px, subsample=sub, restart_interval=ri))
    assert out.shape == shape and out.dtype == np.uint8
    if not color:
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 2
    elif sub == "4:4:4":
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 3
    else:
        # chroma box-averaging error is a few units per pixel and only
        # sqrt-cancels over random content: a 1x4 image showed a 1.67
        # whole-image mean diff on byte-identical r11/r12 outputs (late
        # r12 — the flat 1.5 bound was never sampled that small before)
        assert abs(float(out.mean()) - float(px.mean())) < max(
            1.5, 12.0 / (h * w) ** 0.5
        )


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    color=st.booleans(),
    sub=st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]),
    ri=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_progressive_matches_baseline_property(h, w, color, sub, ri, seed):
    """r12: the SOF2 multi-scan decode must reconstruct EXACTLY the
    pixels the sequential path produces for the same image — both
    encoders emit identical quantized coefficients, and the
    successive-approximation ladder reassembles them bit-for-bit, so
    any drift in either the §G.2 decoder or the fixture encoder shows
    as a pixel diff."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    base = decode_jpeg_pixels(
        encode_jpeg_baseline(px, subsample=sub, restart_interval=ri)
    )
    prog = decode_jpeg_pixels(
        encode_jpeg_progressive(px, subsample=sub, restart_interval=ri)
    )
    assert np.array_equal(base, prog)


def test_jpeg_progressive_corner_streams():
    """r12 deterministic corners of the §G.2 machinery: long EOB runs
    (constant images), refinement ZRL (sparse impulse), the highest-
    frequency-only block (checkerboard), non-unit quant, a spectral-
    selection-only script (no successive approximation), a deep 4-level
    SA ladder, and restart intervals interleaving EOB-run flushes."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)

    def check(img, **kw):
        base = decode_jpeg_pixels(
            encode_jpeg_baseline(
                img, **{k: v for k, v in kw.items() if k != "scans"}
            )
        )
        prog = decode_jpeg_pixels(encode_jpeg_progressive(img, **kw))
        assert np.array_equal(base, prog)

    # EOB runs spanning many blocks, incl. across restart boundaries
    check(np.full((64, 64), 130, np.uint8))
    check(np.full((48, 80, 3), 200, np.uint8), subsample="4:2:0")
    check(np.full((64, 96), 55, np.uint8), restart_interval=2)
    # sparse AC -> ZRL in both first and refinement passes
    img = np.zeros((32, 32), np.uint8)
    img[17, 23] = 255
    check(img)
    # only the (7,7) coefficient: 62 zeros before the lone AC value
    xx, yy = np.meshgrid(np.arange(32), np.arange(32))
    check(((xx + yy) % 2 * 255).astype(np.uint8))
    # non-unit quant + subsampling
    q = np.clip(np.arange(1, 65) * 2, 1, 255)
    check(
        rng.integers(0, 256, (24, 40, 3), np.uint8),
        quant=q,
        subsample="4:2:2",
    )
    # spectral selection only (Ah=Al=0 everywhere) is valid progressive
    check(
        rng.integers(0, 256, (20, 20, 3), np.uint8),
        scans=(
            ((0, 1, 2), 0, 0, 0, 0),
            ((0,), 1, 5, 0, 0),
            ((0,), 6, 63, 0, 0),
            ((1,), 1, 63, 0, 0),
            ((2,), 1, 63, 0, 0),
        ),
    )
    # 4-level successive-approximation ladder, split AC bands
    check(
        rng.integers(0, 256, (33, 17), np.uint8),
        scans=(
            ((0,), 0, 0, 0, 3),
            ((0,), 0, 0, 3, 2),
            ((0,), 0, 0, 2, 1),
            ((0,), 0, 0, 1, 0),
            ((0,), 1, 2, 0, 3),
            ((0,), 3, 63, 0, 3),
            ((0,), 1, 63, 3, 2),
            ((0,), 1, 63, 2, 1),
            ((0,), 1, 63, 1, 0),
        ),
    )
    # restart interval 1 (a marker between every MCU) under the default
    # SA script: eobrun/pred reset at every boundary on both sides
    check(
        rng.integers(0, 256, (40, 56, 3), np.uint8),
        restart_interval=1,
        subsample="4:2:0",
    )


def test_jpeg_progressive_refinement_hand_built_bits():
    """r12: the AC refinement decoder against HAND-COMPUTED bitstreams
    (T.81 §G.1.2.3 worked by hand), independent of the fixture encoder —
    a shared encoder/decoder misunderstanding cannot cancel here.
    Covers: correction bits read while skipping zero-history runs,
    newly-significant insertion after a run, EOB-run completion bits
    for the current block, and pending correction bits consumed by
    later blocks inside the run."""
    from person_linkage_case_study_spark.multimodal.media import (
        _FLAT_AC_TABLE,
        _JpegBitWriter,
        _decode_scan,
        _huff_decode_lut,
        _huff_encode_lut,
    )

    ac_dec = {(1, 0): _huff_decode_lut(*_FLAT_AC_TABLE)}
    enc = _huff_encode_lut(*_FLAT_AC_TABLE)

    def sym(w, rs):
        code, ln = enc[rs]
        w.write(code, ln)

    # Scenario A — one 8x8 block, band 1..8, ah=1 al=0. History (from
    # the al=1 pass): zz[2]=4, zz[4]=-2. Refinement target: zz[2]->5
    # (correction bit 1), zz[4] stays -2 (bit 0), NEW zz[5]=-1 after a
    # run of 2 zero-history slots (k=1, k=3 — k=2 and k=4 are nonzero
    # history and do NOT count toward the run), NEW zz[7]=+1 after a
    # run of 1 (k=6), then EOB0 covering k=8.
    w = _JpegBitWriter()
    sym(w, 0x21)      # run=2, size=1 (newly significant at k=5)
    w.write(0, 1)     # sign: negative
    w.write(1, 1)     # correction bit for zz[2] (passed during advance)
    w.write(0, 1)     # correction bit for zz[4]
    sym(w, 0x11)      # run=1, size=1 (newly significant at k=7)
    w.write(1, 1)     # sign: positive
    sym(w, 0x00)      # EOB0: rest of block (k=8) via completion pass
    w.flush()
    coefs = {1: np.zeros((1, 1, 64), np.int32)}
    coefs[1][0, 0, 2] = 4
    coefs[1][0, 0, 4] = -2
    _decode_scan(
        bytes(w.buf), 0, sel=[(1, 0, 0)], by_cid={1: (1, 1, 0)},
        huff=ac_dec, coefs=coefs, mcux=1, mcuy=1, width=8, height=8,
        hmax=1, vmax=1, restart_interval=0, ss=1, se=8, ah=1, al=0,
    )
    assert coefs[1][0, 0, :9].tolist() == [0, 0, 5, 0, -2, -1, 0, 1, 0]

    # Scenario B — two blocks (16x8), band 1..8, ah=1 al=0. History:
    # blk0 zz[2]=2, blk1 zz[3]=-2. One EOB2 symbol (r=1, ext bit 0 ->
    # run of 2 blocks) followed by the PENDING correction bits: blk0's
    # completion reads its k=2 bit, blk1's completion reads its k=3 bit.
    w = _JpegBitWriter()
    sym(w, 0x10)      # EOBn, r=1
    w.write(0, 1)     # extension: eobrun = 2 + 0
    w.write(1, 1)     # correction bit for blk0 zz[2] -> 3
    w.write(1, 1)     # correction bit for blk1 zz[3] -> -3
    w.flush()
    coefs = {1: np.zeros((1, 2, 64), np.int32)}
    coefs[1][0, 0, 2] = 2
    coefs[1][0, 1, 3] = -2
    _decode_scan(
        bytes(w.buf), 0, sel=[(1, 0, 0)], by_cid={1: (1, 1, 0)},
        huff=ac_dec, coefs=coefs, mcux=2, mcuy=1, width=16, height=8,
        hmax=1, vmax=1, restart_interval=0, ss=1, se=8, ah=1, al=0,
    )
    assert coefs[1][0, 0, 2] == 3 and coefs[1][0, 1, 3] == -3

    # Scenario C — AC FIRST pass (ah=0) EOB-run spanning blocks: three
    # blocks (24x8), blk0 has zz[1]=7, everything else zero. Stream:
    # (run 0, size 3) + magnitude 7, then EOBn r=1 ext 1 -> the run
    # covers blk0's remainder and both empty blocks.
    w = _JpegBitWriter()
    sym(w, 0x03)
    w.write(7, 3)
    sym(w, 0x10)
    w.write(1, 1)     # eobrun = (1<<1) - 1 + 1 = 2 more blocks
    w.flush()
    coefs = {1: np.zeros((1, 3, 64), np.int32)}
    _decode_scan(
        bytes(w.buf), 0, sel=[(1, 0, 0)], by_cid={1: (1, 1, 0)},
        huff=ac_dec, coefs=coefs, mcux=3, mcuy=1, width=24, height=8,
        hmax=1, vmax=1, restart_interval=0, ss=1, se=8, ah=0, al=0,
    )
    assert coefs[1][0, 0, 1] == 7
    assert not coefs[1][0, 1].any() and not coefs[1][0, 2].any()


def test_jpeg_progressive_parse_tier_and_truncation():
    """r12: parse_jpeg's pixel tier decodes REAL progressive payloads
    (closed-form mean, same contract as the baseline tier); a stream
    truncated mid-scan degrades to the metadata tier; a DC-only
    progressive (no AC scans ever sent — legal, viewers render it)
    reconstructs a block-constant image exactly."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_progressive,
    )

    vals = np.array([[10, 250], [128, 33]])
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
    payload = encode_jpeg_progressive(img)
    m = parse_jpeg(payload)
    assert m["format"] == "jpeg" and m["channels"] == 1
    assert m["pixel_mean"] == pytest.approx(float(img.mean()))
    assert np.array_equal(m["pixels"], img)
    assert np.array_equal(decode_image(payload), img)

    # cut inside the LAST scan's entropy data: metadata survives
    m = parse_jpeg(payload[: len(payload) - 6])
    assert (m["width"], m["height"]) == (16, 16) and m["pixels"] is None

    # DC-only script: block-constant content has no AC energy, so the
    # two DC passes alone reconstruct it exactly
    dc_only = encode_jpeg_progressive(
        img, scans=(((0,), 0, 0, 0, 1), ((0,), 0, 0, 1, 0))
    )
    assert np.array_equal(decode_jpeg_pixels(dc_only), img)


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(0, 64),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_round_trip_property(n, ch, rate, seed):
    s = np.random.default_rng(seed).integers(
        -32768, 32768, size=(n, ch), dtype=np.int16
    )
    m = parse_wav(encode_wav(s, sample_rate=rate))
    assert (m["channels"], m["sample_rate"], m["n_frames"]) == (ch, rate, n)
    assert np.array_equal(m["samples"], s)
    if n:
        assert m["peak"] == int(np.abs(s.astype(np.int32)).max())


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    scale=st.integers(1, 5),
    seed=st.integers(0, 2**31 - 1),
)
def test_box_downsample_property(h, w, scale, seed):
    """Output dims are ceil-divided; every output pixel stays within the
    input's [min, max] (a block average can never leave the range, and
    half-away-from-zero rounding of a value <= max lands <= max)."""
    px = np.random.default_rng(seed).integers(0, 256, size=(h, w), dtype=np.uint8)
    out = box_downsample(px, scale)
    assert out.shape == (-(-h // scale), -(-w // scale), 1)
    assert out.min() >= px.min() and out.max() <= px.max()


def test_png_palette_round_trip():
    """Indexed (color type 3) PNGs decode to the PLTE-expanded RGB array
    (r10): encode indices + palette, decode, compare against the direct
    numpy lookup. decode_image returns the expanded array too."""
    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(6, 4), dtype=np.uint8)
    payload = encode_png(idx, palette=pal)
    m = parse_png(payload)
    assert (m["width"], m["height"], m["channels"], m["bit_depth"]) == (4, 6, 3, 8)
    assert np.array_equal(m["pixels"], pal[idx])
    assert m["pixel_mean"] == pytest.approx(float(pal[idx].mean()))
    assert np.array_equal(decode_image(payload), pal[idx])
    # writer contract checks
    with pytest.raises(ValueError, match="palette index"):
        encode_png(np.full((2, 2), 16, dtype=np.uint8), palette=pal)
    with pytest.raises(ValueError, match="palette"):
        encode_png(idx, color_type=3)
    # a palette PNG with its PLTE chunk stripped is metadata-only (the
    # pre-r10 tier), reporting the IHDR samples-per-pixel count of 1
    plte_pos = payload.index(b"PLTE") - 4
    (plte_len,) = struct.unpack(">I", payload[plte_pos : plte_pos + 4])
    stripped = payload[:plte_pos] + payload[plte_pos + 12 + plte_len :]
    m = parse_png(stripped)
    assert m["pixels"] is None and m["channels"] == 1


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 10),
    w=st.integers(1, 10),
    n_pal=st.integers(1, 256),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_palette_round_trip_property(h, w, n_pal, seed):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(n_pal, 3), dtype=np.uint8)
    idx = rng.integers(0, n_pal, size=(h, w), dtype=np.uint8)
    m = parse_png(encode_png(idx, palette=pal))
    assert np.array_equal(m["pixels"], pal[idx])


def test_png_sub_filter_vectorized_golden():
    """Sub (filter 1) reconstruction is a per-channel prefix sum (r10
    vectorization); pin it against a hand-built Sub-only stream whose
    running sums wrap mod 256."""
    px = np.array([[200, 100, 250], [30, 240, 10]], dtype=np.uint8)
    flat = px.astype(np.int32)
    raw = bytearray()
    for y in range(2):
        row = flat[y]
        filt = (row - np.concatenate(([0], row[:-1]))) % 256
        raw.append(1)
        raw.extend(filt.astype(np.uint8).tobytes())

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(parse_png(payload)["pixels"].reshape(2, 3), px)


def test_wav_degenerate_fmt_metadata_only():
    """Advisor-probed garbage (r10): channels=0, sample_rate=0, and a
    truncated fmt chunk must resolve to the metadata-only tier or a typed
    ValueError — never struct.error / TypeError / ZeroDivisionError."""
    body = encode_wav(np.array([3, -4], dtype=np.int16))
    fmt_body = body.index(b"fmt ") + 8
    # channels = 0: no frame geometry, metadata-only
    bad = bytearray(body)
    struct.pack_into("<H", bad, fmt_body + 2, 0)
    m = parse_wav(bytes(bad))
    assert m["channels"] == 0 and m["n_frames"] is None and m["samples"] is None
    # sample_rate = 0: no duration, metadata-only
    bad = bytearray(body)
    struct.pack_into("<I", bad, fmt_body + 4, 0)
    m = parse_wav(bytes(bad))
    assert m["sample_rate"] == 0 and m["n_frames"] is None
    # truncated fmt chunk: typed refusal
    fmt_pos = body.index(b"fmt ")
    trunc = (
        body[:fmt_pos] + b"fmt " + struct.pack("<I", 8)
        + body[fmt_pos + 8 : fmt_pos + 16]
    )
    with pytest.raises(ValueError, match="fmt chunk truncated"):
        parse_wav(trunc)


def _corrupt_idat_png():
    """A payload with a valid PNG signature/IHDR but garbage IDAT bytes —
    parse_png raises zlib.error on it, which the Spark kernels must
    swallow per the crawl-garbage contract (advisor probe, r10)."""
    good = encode_png(np.arange(16, dtype=np.uint8).reshape(4, 4))
    i = good.index(b"IDAT")
    return good[: i + 4] + b"\x00" * 8 + good[i + 12 :]


def test_kernels_swallow_non_valueerror_garbage(spark):
    """One bad record must never kill a stage: corrupt-IDAT PNGs
    (zlib.error) through extract_image_meta AND resize_images, truncated
    WAV fmt (struct.error pre-r10) through extract_audio_meta — all NULL
    rows alongside an intact good row."""
    good_png = encode_png(np.full((4, 4), 9, dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(good_png)), (2, bytearray(_corrupt_idat_png()))],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    meta = {r["media_id"]: r for r in extract_image_meta(media).collect()}
    assert meta[1]["pixel_mean"] == pytest.approx(9.0)
    assert meta[2]["format"] is None
    rsz = {r["media_id"]: r for r in resize_images(media, scale=2).collect()}
    assert rsz[1]["width"] == 2 and rsz[2]["payload"] is None

    wav = encode_wav(np.array([7, -7], dtype=np.int16))
    fmt_pos = wav.index(b"fmt ")
    trunc = (
        wav[:fmt_pos] + b"fmt " + struct.pack("<I", 8)
        + wav[fmt_pos + 8 : fmt_pos + 16]
    )
    adf = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(trunc))],
        "media_id long, payload binary",
    )
    amedia = attach_media_payload(adf, bytes_col="payload", id_col="media_id")
    arows = {r["media_id"]: r for r in extract_audio_meta(amedia).collect()}
    assert arows[1]["peak"] == 7 and arows[2]["format"] is None


def test_kernels_survive_fuzzed_garbage(spark):
    """The crawl-garbage contract, fuzzed: 60 seeded-random payloads —
    pure noise, PNG/JPEG/RIFF signatures glued onto noise, truncated
    real encodings — through all three decode kernels in one pass each.
    The assertion is the contract itself: every row comes back (NULL or
    decoded), no stage ever throws."""
    rng = np.random.default_rng(20251234)
    real_png = encode_png(np.arange(9, dtype=np.uint8).reshape(3, 3))
    real_wav = encode_wav(np.array([1, -2, 3], dtype=np.int16))
    payloads = []
    for i in range(60):
        kind = i % 6
        noise = rng.integers(0, 256, size=int(rng.integers(0, 64)), dtype=np.uint8).tobytes()
        if kind == 0:
            b = noise
        elif kind == 1:
            b = b"\x89PNG\r\n\x1a\n" + noise
        elif kind == 2:
            b = b"\xff\xd8\xff" + noise
        elif kind == 3:
            b = b"RIFF" + noise
        elif kind == 4:
            b = real_png[: int(rng.integers(1, len(real_png)))]
        else:
            b = real_wav[: int(rng.integers(1, len(real_wav)))]
        payloads.append((i, bytearray(b)))
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    assert extract_image_meta(media).count() == 60
    assert extract_audio_meta(media).count() == 60
    assert resize_images(media, scale=2).count() == 60


def test_frame_sampling(media):
    frames = sample_frames(media, every_n_bytes=4096, max_frames=8).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 2  # 10004 bytes / 4096 -> 2 frames
    assert len(by_id[3]) == 1
    assert len(by_id[1][0]["frame_payload"]) == 4096


def test_extract_image_profile_one_pass(spark):
    """r13 (closes the r12 advisor nit): the combined profile kernel —
    ONE decode per payload — emits exactly what the three separate
    kernels (extract_image_meta + extract_media_features + attach_phash
    at both widths) emit, column for column, on a mixed frame of real
    images, an undecodable-but-parseable payload, garbage, and NULL."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_bmp,
        encode_png,
        extract_image_profile,
        extract_media_features,
    )
    from person_linkage_case_study_spark.multimodal.phash import attach_phash

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 30, 3), np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_png(img))),
            (2, bytearray(encode_bmp(img))),
            (3, bytearray(
                b"RIFF" + struct.pack("<I", 30) + b"WEBP"
                + b"VP8 " + struct.pack("<I", 10)
                + b"\x00\x00\x00\x9d\x01\x2a"
                + struct.pack("<HH", 640 | 0x4000, 480)
            )),
            (4, bytearray(b"garbage bytes")),
            (5, None),
        ],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    prof = {r["media_id"]: r for r in extract_image_profile(media).collect()}
    meta = {r["media_id"]: r for r in extract_image_meta(media).collect()}
    feat = {r["media_id"]: r for r in extract_media_features(media).collect()}
    h64 = {r["media_id"]: r["phash"] for r in attach_phash(media).collect()}
    h256 = {
        r["media_id"]: r["phash"]
        for r in attach_phash(media, nbits=256).collect()
    }
    for mid in (1, 2, 3, 4, 5):
        p = prof[mid]
        for c in ("format", "width", "height", "channels", "bit_depth",
                  "n_frames", "orientation", "has_gps", "pixel_mean"):
            assert p[c] == meta[mid][c], (mid, c)
        for c in ("n_bytes", "byte_entropy", "head_hash", "feature_vec"):
            assert p[c] == feat[mid][c], (mid, c)
        assert p["phash"] == h64[mid], mid
        assert p["phash256"] == h256[mid], mid
    # the two encodings of the same pixels agree inside the one pass too
    assert prof[1]["phash"] == prof[2]["phash"]
    assert prof[1]["phash256"] == prof[2]["phash256"]
    assert prof[3]["format"] == "webp" and prof[3]["phash"] is None


def test_jpeg_12bit_precision():
    """r13: 12-bit JPEG decodes for real — SOF1 extended-sequential and
    SOF2 progressive frames, uint16 output on 0..4095, flat Huffman
    tables reaching DC category 15 / AC size 14. Constant 8x8 blocks at
    unit quant round-trip bit-exactly (DC-only, same closed form as the
    8-bit tier); 12-bit in baseline SOF0 is rejected per T.81 B.2.2."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
        parse_jpeg,
    )

    # constant blocks spanning the 12-bit range, gray
    vals = np.array([[100, 2048], [3995, 0]], np.int64)
    px = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    for enc in (encode_jpeg_baseline, encode_jpeg_progressive):
        blob = enc(px, precision=12)
        out = decode_jpeg_pixels(blob)
        assert out.dtype == np.uint16
        assert (out == px).all(), enc.__name__
        m = parse_jpeg(blob)
        assert m["bit_depth"] == 12 and m["pixel_mean"] == px.mean()
    # SOF1 marker emitted (never baseline SOF0)
    assert b"\xff\xc1" in encode_jpeg_baseline(px, precision=12)

    # RGB path: color conversion centers at 2048 — gray (equal RGB)
    # constants survive the YCbCr round trip exactly at unit quant
    rgb = np.repeat(np.repeat(
        np.array([[[900] * 3, [3000] * 3]], np.int64), 8, 1), 8, 2
    ).reshape(8, 16, 3)
    out = decode_jpeg_pixels(encode_jpeg_baseline(rgb, precision=12))
    assert out.dtype == np.uint16 and (out == rgb).all()

    # smooth 12-bit content with restart markers: near-exact (rounding)
    rng = np.random.default_rng(9)
    base = np.cumsum(rng.integers(-9, 10, (16, 24)), axis=1) + 2000
    sm = np.clip(base, 0, 4095).astype(np.int64)
    out = decode_jpeg_pixels(
        encode_jpeg_baseline(sm, precision=12, restart_interval=2)
    )
    assert np.abs(out.astype(np.int64) - sm).max() <= 24

    # hand-rewrite the SOF1 marker to SOF0: must be rejected
    bad = bytearray(encode_jpeg_baseline(px, precision=12))
    bad[bad.index(b"\xff\xc1") + 1] = 0xC0
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_pixels(bytes(bad))
    # and the pixel tier degrades it to metadata-only, never a throw
    m = parse_jpeg(bytes(bad))
    assert m["pixels"] is None and m["bit_depth"] == 12


def test_gif_animation_roundtrip():
    """r13: full animated-GIF decode — frame composition with delays,
    transparency, frame rects, and all disposal methods, checked
    against a straight numpy re-composition of the same inputs."""
    from person_linkage_case_study_spark.multimodal.media import (
        decode_gif_frames,
        encode_gif_animation,
    )

    rng = np.random.default_rng(31)
    pal = rng.integers(0, 256, (8, 3), np.uint8)
    bg = pal[0]  # background index 0 (encoder writes bg byte 0)

    f0 = rng.integers(0, 8, (6, 9), np.uint8)           # full screen
    f1 = rng.integers(0, 8, (3, 4), np.uint8)           # patch at (2,1)
    f2 = rng.integers(0, 8, (2, 3), np.uint8)           # transparent holes
    f2[0, 1] = 7
    f3 = rng.integers(0, 8, (6, 9), np.uint8)
    blob = encode_gif_animation(
        [
            {"indexes": f0, "delay_cs": 10, "disposal": 1},
            {"indexes": f1, "left": 1, "top": 2, "delay_cs": 20,
             "disposal": 3, "interlace": True},
            {"indexes": f2, "left": 5, "top": 0, "delay_cs": 0,
             "disposal": 2, "transparent": 7},
            {"indexes": f3, "delay_cs": 5},
        ],
        pal,
    )
    d = decode_gif_frames(blob)
    assert d["n_frames"] == 4 and d["delays_cs"] == [10, 20, 0, 5]
    assert (d["width"], d["height"]) == (9, 6)

    # expected composition, straight numpy
    c = np.empty((6, 9, 3), np.uint8); c[:] = bg
    c0 = pal[f0].copy()
    assert (d["frames"][0] == c0).all()
    c1 = c0.copy(); c1[2:5, 1:5] = pal[f1]
    assert (d["frames"][1] == c1).all()
    # frame 1 disposal 3: restore its rect to pre-draw, then draw f2
    c2 = c0.copy()
    region = c2[0:2, 5:8]
    keep = f2 != 7
    region[keep] = pal[f2][keep]
    assert (d["frames"][2] == c2).all()
    # frame 2 disposal 2: its rect to background, then f3 full overwrite
    assert (d["frames"][3] == pal[f3]).all()

    # max_frames caps composition but not the true count
    capped = decode_gif_frames(blob, max_frames=2)
    assert capped["n_frames"] == 4 and len(capped["frames"]) == 2

    # corrupt stream is loud
    import pytest as _pytest
    bad = bytearray(blob); bad[len(blob) // 2] ^= 0x55
    with _pytest.raises(ValueError):
        d2 = decode_gif_frames(bytes(bad))
        for a, b_ in zip(d2["frames"], d["frames"]):
            if (a != b_).any():
                raise ValueError("silent corruption")


def test_extract_gif_frames_spark(spark):
    """The frame-explode kernel: one row per rendered frame with delay
    and pixel mean; non-GIF and corrupt rows contribute zero rows."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_gif_animation,
        extract_gif_frames,
    )

    pal = np.array([[0, 0, 0], [100, 100, 100], [200, 200, 200]], np.uint8)
    anim = encode_gif_animation(
        [
            {"indexes": np.full((4, 4), 1, np.uint8), "delay_cs": 10},
            {"indexes": np.full((4, 4), 2, np.uint8), "delay_cs": 20},
            {"indexes": np.full((4, 4), 0, np.uint8), "delay_cs": 30},
        ],
        pal,
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(anim)),
            (2, bytearray(b"GIF89a" + b"\x00" * 4)),  # truncated
            (3, bytearray(b"not a gif")),
            (4, None),
        ],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = extract_gif_frames(media, max_frames=2).collect()
    got = sorted((r["media_id"], r["frame_idx"], r["delay_cs"],
                  r["n_frames"], r["pixel_mean"]) for r in rows)
    assert got == [(1, 0, 10, 3, 100.0), (1, 1, 20, 3, 200.0)]


def test_bmp_paletted_rle_and_16bpp():
    """r13: the remaining real-crawl BMP layouts decode — paletted
    1/4/8-bpp with BGRX color tables, RLE8 (encoded runs, absolute
    runs, EOL/EOD/delta escapes via a hand-built stream), and 16-bpp
    555 (BI_RGB implied masks) / 565 (explicit BI_BITFIELDS)."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_bmp16,
        encode_bmp_paletted,
        parse_bmp,
    )

    rng = np.random.default_rng(41)
    pal = rng.integers(0, 256, (16, 3), np.uint8)
    idx = rng.integers(0, 16, (5, 7), np.uint8)
    for bpp, ncols in ((8, 16), (4, 16), (1, 2)):
        use = (idx % ncols).astype(np.uint8)
        for td in (False, True):
            m = parse_bmp(encode_bmp_paletted(use, pal[:ncols], bpp=bpp,
                                              top_down=td))
            assert m["bit_depth"] == min(bpp, 8) and m["channels"] == 3
            assert (m["pixels"] == pal[:ncols][use]).all(), (bpp, td)

    # RLE8 round-trip (runs + per-row EOL + EOD)
    runs = np.repeat(rng.integers(0, 16, (4, 3), np.uint8), 4, axis=1)
    m = parse_bmp(encode_bmp_paletted(runs, pal, rle=True))
    assert (m["pixels"] == pal[runs]).all()

    # hand-built RLE8 stream: absolute run + delta escape + early EOD;
    # pixels skipped by the delta stay palette entry 0
    dib = struct.pack("<IiiHHIIiiII", 40, 6, 3, 1, 8, 1, 0, 0, 0, 4, 0)
    quads = np.zeros((4, 4), np.uint8)
    quads[:, [2, 1, 0]] = pal[:4]
    rle = bytes(
        # row 0 (bottom): absolute run of 3 pixels (1,2,3) + pad, EOL
        (0, 3, 1, 2, 3, 0, 0, 0)
        # row 1: run of 2x index 1, delta (+2,+1), then EOD
        + (2, 1, 0, 2, 2, 1, 0, 1)
    )
    off = 14 + 40 + 16
    blob = (b"BM" + struct.pack("<IHHI", off + len(rle), 0, 0, off)
            + dib + quads.tobytes() + rle)
    m = parse_bmp(blob)
    want_idx = np.zeros((3, 6), np.uint8)
    want_idx[0, :3] = (1, 2, 3)   # file row 0 = bottom row
    want_idx[1, :2] = 1
    assert (m["pixels"] == pal[want_idx][::-1]).all()

    # 16-bpp: multiples of 8 survive 555 exactly; 565 keeps green at
    # 4-level granularity — check exact reconstruction of aligned values
    px = (rng.integers(0, 32, (4, 5, 3)) * 8).astype(np.uint8)
    m = parse_bmp(encode_bmp16(px, bits="555"))
    scaled = ((px.astype(np.uint32) >> 3) * 255 + 15) // 31
    assert (m["pixels"] == scaled.astype(np.uint8)).all()
    px2 = px.copy()
    px2[..., 1] = (rng.integers(0, 64, (4, 5)) * 4).astype(np.uint8)
    m = parse_bmp(encode_bmp16(px2, bits="565", top_down=True))
    g = ((px2[..., 1].astype(np.uint32) >> 2) * 255 + 31) // 63
    assert (m["pixels"][..., 1] == g.astype(np.uint8)).all()

    # truncated palette / bad indexes stay metadata-only, never throw
    good = encode_bmp_paletted(idx, pal)
    m = parse_bmp(good[: 14 + 40 + 10])
    assert m["pixels"] is None and m["format"] == "bmp"


def test_flac_tags_and_picture_and_png_exif():
    """r13 metadata trio: FLAC VORBIS_COMMENT tags surface through the
    same audio-tag columns as ID3v2 (little-endian lengths inside the
    big-endian container — the classic trap, pinned); a FLAC PICTURE
    block's embedded cover art round-trips back through the IMAGE
    decoder (the cross-modal edge); PNG eXIf chunks carry the same
    orientation / GPS-presence surface as JPEG APP1."""
    from person_linkage_case_study_spark.multimodal.media import (
        add_flac_metadata,
        encode_exif_app1,
        encode_flac_streaminfo,
        encode_png,
        parse_flac,
        parse_flac_picture,
        parse_flac_tags,
        parse_png,
    )

    rng = np.random.default_rng(47)
    art_px = rng.integers(0, 256, (9, 11, 3), np.uint8)
    art = encode_png(art_px)
    base = encode_flac_streaminfo(44100, 2, 16, 44100)
    blob = add_flac_metadata(
        base,
        tags={"TITLE": "Song A", "Artist": "Band B", "ALBUM": "LP C",
              "DATE": "1997-04-01", "GENRE": "noise"},
        picture={"data": art, "mime": "image/png", "width": 11,
                 "height": 9},
    )
    # STREAMINFO still parses through the extended block chain
    assert parse_flac(blob)["duration_sec"] == 1.0
    tags = parse_flac_tags(blob)
    assert tags == {"title": "Song A", "artist": "Band B", "album": "LP C",
                    "year": "1997", "genre": "noise"}
    pic = parse_flac_picture(blob)
    assert pic["mime"] == "image/png" and pic["picture_type"] == 3
    # cross-modal: the embedded art decodes as a real image
    inner = parse_png(pic["data"])
    assert (inner["width"], inner["height"]) == (11, 9)
    assert (inner["pixels"] == art_px).all()
    # no tags / no picture: empty dict and None, never a throw
    assert parse_flac_tags(base) == {} and parse_flac_picture(base) is None

    # PNG eXIf: raw TIFF blob (strip the APP1 'Exif\\0\\0' prefix)
    tiff = encode_exif_app1(orientation=6, gps=True)[6:]
    png = encode_png(art_px, exif=tiff)
    m = parse_png(png)
    assert m["orientation"] == 6 and m["has_gps"] is True
    assert (m["pixels"] == art_px).all()  # pixels unaffected by eXIf
    plain = parse_png(encode_png(art_px))
    assert plain["orientation"] is None and plain["has_gps"] is False


def test_extract_audio_tags_flac_spark(spark):
    """The tag kernel reads FLAC VORBIS_COMMENT rows alongside ID3v2
    ones, same columns; corrupt comment blocks NULL out."""
    from person_linkage_case_study_spark.multimodal.media import (
        add_flac_metadata,
        encode_flac_streaminfo,
        encode_id3_tag,
        extract_audio_tags,
    )

    flac = add_flac_metadata(
        encode_flac_streaminfo(8000, 1, 16, 8000),
        tags={"title": "F", "artist": "G", "date": "2001"},
    )
    bad = bytearray(flac)
    bad[12] = 0xFF  # corrupt inside the metadata chain
    id3 = encode_id3_tag({"TIT2": "I", "TPE1": "J", "TALB": "K"})
    df = spark.createDataFrame(
        [(1, bytearray(flac)), (2, bytearray(bad)), (3, bytearray(id3)),
         (4, None)],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_audio_tags(media).collect()}
    assert (rows[1]["title"], rows[1]["artist"], rows[1]["year"]) == (
        "F", "G", "2001")
    assert rows[3]["title"] == "I" and rows[4]["title"] is None


def test_ogg_and_wav_tags(spark):
    """late r13: the tag surface completes across audio containers —
    Ogg OpusTags / \\x03vorbis comment packets and RIFF LIST/INFO
    chunks emit the same title/artist/album/year/genre columns as
    ID3v2 and FLAC; the Spark kernel routes by signature."""
    from person_linkage_case_study_spark.multimodal.media import (
        add_wav_info,
        encode_ogg,
        encode_wav,
        extract_audio_tags,
        parse_ogg,
        parse_ogg_tags,
        parse_wav,
        parse_wav_tags,
    )

    opus = encode_ogg("opus", 2, 48000, [960, 1920],
                      tags={"TITLE": "Oa", "artist": "Ob", "DATE": "2015-06"})
    vorb = encode_ogg("vorbis", 1, 22050, [22050],
                      tags={"ALBUM": "Va", "GENRE": "Vg"})
    assert parse_ogg_tags(opus) == {"title": "Oa", "artist": "Ob",
                                    "year": "2015"}
    assert parse_ogg_tags(vorb) == {"album": "Va", "genre": "Vg"}
    # the tags page does not disturb the duration walk
    assert parse_ogg(opus)["duration_sec"] == 1920 / 48000
    assert parse_ogg_tags(encode_ogg("opus", 1, 48000, [960])) == {}

    wav = encode_wav(np.zeros((16, 1), np.int16), sample_rate=8000)
    tagged = add_wav_info(wav, {"title": "Wt", "album": "Wl",
                                "year": "1988"})
    assert parse_wav_tags(tagged) == {"title": "Wt", "album": "Wl",
                                      "year": "1988"}
    # RIFF size patched: the PCM parse still works on the tagged file
    assert parse_wav(tagged)["n_frames"] == 16
    assert parse_wav_tags(wav) == {}

    df = spark.createDataFrame(
        [(1, bytearray(opus)), (2, bytearray(tagged)), (3, bytearray(vorb))],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r for r in extract_audio_tags(media).collect()}
    assert rows[1]["title"] == "Oa" and rows[1]["year"] == "2015"
    assert rows[2]["title"] == "Wt" and rows[2]["album"] == "Wl"
    assert rows[3]["album"] == "Va" and rows[3]["title"] is None


def test_gif_frames_as_png_cross_modal(spark):
    """late r13: frame explode with as_png=True emits real PNG payloads
    that feed back through the image kernels — frames of an animation
    pHash-match standalone PNGs of the same pixels."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_gif_animation,
        encode_png,
        extract_gif_frames,
        extract_image_meta,
    )
    from person_linkage_case_study_spark.multimodal.phash import phash64

    rng = np.random.default_rng(53)
    pal = rng.integers(0, 256, (8, 3), np.uint8)
    f0 = rng.integers(0, 8, (40, 40), np.uint8)
    f1 = rng.integers(0, 8, (40, 40), np.uint8)
    anim = encode_gif_animation(
        [{"indexes": f0, "delay_cs": 4}, {"indexes": f1, "delay_cs": 6}], pal
    )
    df = spark.createDataFrame(
        [(1, bytearray(anim))], "media_id long, payload binary"
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    frames = extract_gif_frames(media, as_png=True).collect()
    assert [r["frame_idx"] for r in frames] == [0, 1]
    # the re-encoded frames decode through the IMAGE kernel...
    fdf = spark.createDataFrame(
        [(r["frame_idx"], bytearray(r["frame_png"])) for r in frames],
        "media_id long, payload binary",
    )
    metas = {r["media_id"]: r for r in extract_image_meta(
        attach_media_payload(fdf, bytes_col="payload", id_col="media_id")
    ).collect()}
    assert metas[0]["format"] == "png" and metas[0]["width"] == 40
    # ...and pHash-match standalone PNGs of the same pixels
    assert phash64(bytes(frames[0]["frame_png"])) == phash64(
        encode_png(pal[f0]))
    assert phash64(bytes(frames[1]["frame_png"])) == phash64(
        encode_png(pal[f1]))


def test_wav_g711_alaw_ulaw():
    """r13: G.711 A-law/mu-law WAV decode — the 256-entry expansion
    tables are pinned code-by-code against a scalar transcription of
    the standard's segment arithmetic, anchored by SPEC-LEVEL facts the
    implementation can't fake (mu-law 0xFF/0x7F decode to exactly 0,
    A-law 0xD5/0x55 to +/-8, strict magnitude monotonicity across the
    positive half), and code streams round-trip through
    encode_wav/parse_wav with exact samples and peak."""
    from person_linkage_case_study_spark.multimodal.media import (
        _g711_table,
        encode_wav,
        parse_wav,
    )

    # per-code transcription of the standard's expansion (scalar ints,
    # vs the table builder's vectorized numpy fill)
    def ulaw_ref(code):
        u = ~code & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    def alaw_ref(code):
        a = code ^ 0x55
        seg = (a & 0x70) >> 4
        t = (a & 0x0F) << 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        return t if (a & 0x80) else -t

    ut = _g711_table("ulaw")
    at = _g711_table("alaw")
    for code in range(256):
        assert int(ut[code]) == ulaw_ref(code), ("ulaw", code)
        assert int(at[code]) == alaw_ref(code), ("alaw", code)
    # spec anchors: mu-law 0xFF decodes to 0, 0x7F to -1 ... mu-law's
    # smallest magnitudes; A-law 0xD5 (0x55^0xD5=0x80) is +8
    assert int(ut[0xFF]) == 0 and int(ut[0x7F]) == 0
    assert int(at[0xD5]) == 8 and int(at[0x55]) == -8
    # monotone within the positive half (codes 0x80.. for ulaw after
    # complement ordering): magnitudes strictly decrease 0x80 -> 0xFF
    mags = [int(ut[c]) for c in range(0x80, 0x100)]
    assert all(a > b for a, b in zip(mags, mags[1:])) and mags[-1] == 0

    # round-trip: raw code streams through the RIFF writer
    rng = np.random.default_rng(59)
    codes = rng.integers(0, 256, (400, 2)).astype(np.uint8)
    for enc, table in (("ulaw", ut), ("alaw", at)):
        m = parse_wav(encode_wav(codes, 8000, encoding=enc))
        assert m["bit_depth"] == 8 and m["n_frames"] == 400
        want = table[codes]
        assert (m["samples"] == want).all()
        assert m["peak"] == int(np.abs(want.astype(np.int64)).max())


def test_mp4_sample_tables_r14():
    """r14: the stbl walk — stsd codec fourcc, stts frame count, and
    stts-ticks / mdhd-timescale -> average fps — with truncation and
    absence degrading to None, never garbage."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp4_skeleton,
        parse_mp4,
    )

    # two stts runs: 12 @ 100 + 6 @ 200 ticks = 2400 ticks at ts 2400
    # -> 18 samples in exactly 1s of media time -> 18.0 fps
    b = encode_mp4_skeleton(
        timescale=1000, duration=3000, video_dims=(64, 48),
        n_audio_tracks=1, video_codec="avc1",
        video_stts=[(12, 100), (6, 200)], media_timescale=2400,
    )
    m = parse_mp4(b)
    assert m["video_codec"] == "avc1"
    assert m["n_samples"] == 18
    assert m["fps"] == 18.0
    assert m["duration_sec"] == 3.0 and m["width"] == 64
    assert m["n_audio_tracks"] == 1

    # no sample tables (the r13 skeleton shape): Nones, not zeros
    m0 = parse_mp4(encode_mp4_skeleton(
        timescale=1000, duration=1000, video_dims=(16, 16)))
    assert m0["video_codec"] is None and m0["n_samples"] is None
    assert m0["fps"] is None

    # codec without stts: fourcc lands, fps stays None
    mc = parse_mp4(encode_mp4_skeleton(
        timescale=1000, duration=1000, video_dims=(16, 16),
        video_codec="hev1"))
    assert mc["video_codec"] == "hev1" and mc["fps"] is None

    # audio-only file never reports video sample info
    ma = parse_mp4(encode_mp4_skeleton(
        timescale=1000, duration=1000, n_audio_tracks=2,
        video_codec="avc1", video_stts=[(6, 100)]))
    assert ma["video_codec"] is None and ma["n_samples"] is None

    # byte-truncation anywhere keeps a valid prefix or drops the trak
    # (a cut before any whole ftyp/moov raises per the documented
    # contract) — never a half-read garbage value
    for cut in range(8, len(b), 7):
        try:
            mt = parse_mp4(b[:cut])
        except ValueError:
            continue
        assert mt["fps"] in (None, 18.0)
        assert mt["n_samples"] in (None, 18)


def test_l3_sideinfo_stats_r14():
    """r14: MPEG-1 Layer III side-info walk — global_gain mean and
    short-block share without any Huffman decode; header frames
    excluded; MPEG-2 and non-L3 streams report None."""
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp3_frames,
        parse_mp3,
    )

    m = parse_mp3(encode_mp3_frames(5, global_gain=100,
                                    short_blocks=(False, True)))
    assert m["l3_gain_mean"] == 100.0 and m["l3_short_share"] == 0.5
    m = parse_mp3(encode_mp3_frames(3, channels=1, global_gain=7,
                                    short_blocks=(True, True)))
    assert m["l3_gain_mean"] == 7.0 and m["l3_short_share"] == 1.0
    # zero-filled payloads parse as gain 0, no short blocks
    m = parse_mp3(encode_mp3_frames(2))
    assert m["l3_gain_mean"] == 0.0 and m["l3_short_share"] == 0.0
    # a Xing header frame carries side info too but is not audio
    m = parse_mp3(encode_mp3_frames(4, global_gain=50, vbr_tag="xing",
                                    vbr_frame_count=4))
    assert m["l3_gain_mean"] == 50.0
    # MPEG-2 LSF: different side-info layout, stats stay None
    m = parse_mp3(encode_mp3_frames(2, version="2", sample_rate=22050,
                                    bitrate_kbps=64))
    assert m["l3_gain_mean"] is None and m["l3_short_share"] is None
    # Layer II stream: no Layer III side info
    m = parse_mp3(encode_mp3_frames(2, layer=2))
    assert m["l3_gain_mean"] is None


def test_extract_mp3_sideinfo_stats_spark(spark):
    from person_linkage_case_study_spark.multimodal.media import (
        encode_mp3_frames,
        extract_mp3_sideinfo_stats,
    )

    df = spark.createDataFrame(
        [
            (1, bytearray(encode_mp3_frames(3, global_gain=90,
                                            short_blocks=(True, False)))),
            (2, bytearray(b"not audio at all")),
            (3, None),
        ],
        "media_id long, payload binary",
    )
    media = attach_media_payload(df, bytes_col="payload", id_col="media_id")
    rows = {r["media_id"]: r
            for r in extract_mp3_sideinfo_stats(media).collect()}
    assert rows[1]["l3_gain_mean"] == 90.0
    assert rows[1]["l3_short_share"] == 0.5
    assert rows[2]["l3_gain_mean"] is None and rows[3]["l3_gain_mean"] is None


def test_mm_media_features_drops_its_leg_views(spark):
    """mm_media_features registers its pivot legs as temp views under
    per-call names and drops them once the query is analysed: no
    ``__mm_leg_`` view is left afterwards, and the frame still runs."""
    from conftest import SF_DIR

    from person_linkage_case_study_spark.queries import mm_media_features

    def leg_views():
        return [
            t.name
            for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("__mm_leg_")
        ]

    before = leg_views()
    out = mm_media_features(spark, SF_DIR)
    assert leg_views() == before
    assert out.count() > 0
