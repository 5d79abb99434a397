"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` payload columns plus typed metadata —
the schema a 100 TB multimodal training pipeline uses so Spark never
interprets media bytes in the JVM. Decode / feature-extraction run as
Arrow-batched ``mapInPandas`` so whole payload batches reach Python
without per-row overhead.

Image decode (r9): PNG is decoded for REAL in pure Python — signature +
IHDR parse, zlib IDAT inflate (stdlib), scanline de-filtering (all five
PNG filter types) to a numpy pixel array — and JPEG headers are parsed
for dimensions/components (entropy-coded pixel decode stays behind the
PIL gate: a DCT decoder is out of scope, and the metadata is what the
curation pipeline consumes). ``encode_png`` is the matching writer so
fixtures and round-trip tests need no imaging library. Audio gets the
same treatment (r9): WAV/PCM16 is decoded for REAL — RIFF chunk walk,
fmt parse, int16 sample array with RMS/peak — via :func:`parse_wav`,
with :func:`encode_wav` as the matching writer. Heavier codecs
(ffmpeg/torchaudio, JPEG pixels, compressed audio) still gate on an
import-try; ``extract_media_features`` computes deterministic byte-level
features wherever a codec is unavailable.

r10: indexed (color type 3 / PLTE) PNGs decode to RGB — the last common
PNG tier a crawl actually contains; the Sub scanline filter reconstructs
via one vectorized prefix sum instead of a per-byte loop; and every
per-row decode in the Spark kernels catches Exception, not just
ValueError, so payloads with valid signatures and corrupt innards
(zlib.error, struct.error — advisor-probed) NULL out instead of killing
the stage.
"""

from __future__ import annotations

import functools
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("source", T.StringType()),
    ]
)


def attach_media_payload(
    df: DataFrame,
    bytes_col: str,
    id_col: str,
    media_type: str = "image/png",
    source_col: str | None = None,
) -> DataFrame:
    """Normalize any (id, binary) pair into the canonical media schema."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(bytes_col).cast("binary").alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.octet_length(F.col(bytes_col).cast("binary")).cast("long").alias("n_bytes"),
        (F.col(source_col) if source_col else F.lit("unknown")).alias("source"),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (PNG spec 11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# Adam7 interlace pass geometry: (x0, y0, dx, dy) per PNG spec 8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)
# legal bit depths per color type (PNG spec 11.2.2 table)
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
    4: (8, 16), 6: (8, 16),
}


def _png_rows_to_bytes(px, bit_depth: int, stride: int):
    """Pixel samples (h, w, c) → filtered-unit byte rows (h, stride):
    big-endian 16-bit split, bit packing below 8 (PNG spec 7.2)."""
    import numpy as np

    h, w, c = px.shape
    if bit_depth == 16:
        flat = px.astype(">u2").reshape(h, -1)
        return flat.view(np.uint8).reshape(h, stride)
    if bit_depth == 8:
        return px.astype(np.uint8).reshape(h, stride)
    vals = px.astype(np.uint8).reshape(h, w * c)
    weights = (1 << np.arange(bit_depth - 1, -1, -1)).astype(np.uint8)
    bits = ((vals[:, :, None] & weights) > 0).astype(np.uint8)
    bits = bits.reshape(h, w * c * bit_depth)
    pad = stride * 8 - bits.shape[1]
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.packbits(bits, axis=1)


def _png_filter_rows(rows, bpp: int) -> bytearray:
    """Filter byte rows with the rotating None/Sub/Up/Average/Paeth
    schedule (all five spec filters — every decoder path exercised by
    round-trips). PNG filters act on BYTES with the 'left' neighbor
    ``bpp`` bytes back (spec 9.2); encoding-side predictors read RAW
    neighbor bytes, which equal the decoder's reconstructed ones, so
    the schedule is vectorizable and lossless."""
    import numpy as np

    h, stride = rows.shape
    out = bytearray()
    flat = rows.astype(np.int32)
    zeros = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = y % 5  # 0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth
        row = flat[y]
        left = np.concatenate((zeros[:bpp], row[:-bpp]))
        up = flat[y - 1] if y else zeros
        if ft == 1:
            filtered = (row - left) % 256
        elif ft == 2:
            filtered = (row - up) % 256
        elif ft == 3:
            filtered = (row - (left + up) // 2) % 256
        elif ft == 4:
            upleft = np.concatenate((zeros[:bpp], up[:-bpp]))
            pa = np.abs(up - upleft)
            pb = np.abs(left - upleft)
            pc = np.abs(left + up - 2 * upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
            )
            filtered = (row - pred) % 256
        else:
            filtered = row
        out.append(ft)
        out.extend(filtered.astype(np.uint8).tobytes())
    return out


def encode_png(
    pixels,
    color_type: int | None = None,
    palette=None,
    *,
    bit_depth: int = 8,
    interlace: bool = False,
    exif: "bytes | None" = None,
) -> bytes:
    """Minimal, spec-correct PNG writer (the fixture / round-trip
    counterpart of :func:`parse_png` — no imaging library in this
    container). ``pixels`` is a numpy array: (h, w) gray or (h, w, c)
    with c ∈ {1, 2, 3, 4}; uint8 for depth ≤ 8, uint16 for depth 16
    (r12 — 1/2/4-bit gray and palette carry the RAW small sample
    values). Rows are filtered with a rotating None/Sub/Up/Average/
    Paeth schedule (see :func:`_png_filter_rows`). ``interlace`` emits
    Adam7 (r12): each of the seven passes is an independently filtered
    sub-image.

    ``palette`` (r10): an (n ≤ 256, 3) uint8 RGB array makes this a
    color-type-3 (indexed) writer — ``pixels`` is then the (h, w)
    INDEX array and a PLTE chunk is emitted before IDAT (PNG spec
    11.2.3 requires PLTE ahead of the image data for type 3)."""
    import numpy as np

    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
            raise ValueError("palette must be (n<=256, 3) uint8 RGB")
        if c != 1:
            raise ValueError("indexed PNG wants a single index sample per pixel")
        if int(px.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        color_type = 3
    if color_type is None:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    if color_type == 3 and palette is None:
        raise ValueError("color_type 3 requires a palette")
    if _PNG_CHANNELS[color_type] != c:
        raise ValueError(f"color_type {color_type} wants {_PNG_CHANNELS[color_type]} channels, got {c}")
    if bit_depth not in _PNG_DEPTHS[color_type]:
        raise ValueError(f"color_type {color_type} disallows bit depth {bit_depth}")
    if bit_depth < 8 and int(px.max(initial=0)) >= (1 << bit_depth):
        raise ValueError(f"samples exceed {bit_depth}-bit range")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 1 if interlace else 0
    )
    bpp = max(1, c * bit_depth // 8)
    raw = bytearray()
    for x0, y0, dx, dy in (_ADAM7 if interlace else ((0, 0, 1, 1),)):
        sub = px[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue  # empty Adam7 pass: no bytes at all (spec 8.2)
        stride = (pw * c * bit_depth + 7) // 8
        raw += _png_filter_rows(
            _png_rows_to_bytes(sub, bit_depth, stride), bpp
        )
    plte = b"" if palette is None else chunk(b"PLTE", pal.tobytes())
    # r13: optional eXIf chunk (raw TIFF blob, PNG 1.5) ahead of IDAT
    exif_chunk = b"" if exif is None else chunk(b"eXIf", exif)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + exif_chunk
        + plte
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


# the crawl kernel's PNG pixel-tier cap (late r12): PNG decode is
# numpy-vectorized so the budget is MEMORY, not CPU — 64M pixels is a
# ~192 MB RGB plane, the most one crawl row may allocate; decode_image
# (the explicit API) passes None and decodes any size
PNG_CRAWL_PIXEL_LIMIT = 1 << 26


def parse_png(payload: bytes, max_pixels: int | None = None) -> dict:
    """Pure-Python PNG decode: IHDR metadata always; the full pixel
    array (zlib inflate + all five scanline filters per the PNG spec,
    9.2) and its mean for EVERY legal depth/layout (r12 — r9 decoded
    8-bit non-interlaced only): 16-bit samples come back as uint16,
    1/2/4-bit grayscale is bit-unpacked and scaled to the 0-255 range
    (×255/×85/×17 — what every viewer renders), indexed images of any
    depth expand through the PLTE lookup to RGB (``channels`` reports 3,
    r10), and Adam7 INTERLACED streams decode all seven passes, each an
    independently filtered sub-image scattered back into the grid.
    Returns ``{format, width, height, channels, bit_depth, pixels,
    pixel_mean}`` — ``pixels``/``pixel_mean`` are None only when
    metadata alone is decodable (palette sans PLTE, degenerate dims);
    ``channels`` is then the IHDR samples-per-pixel count."""
    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, idat = 8, bytearray()
    width = height = bit_depth = color_type = interlace = None
    plte = None
    exif = {"orientation": None, "has_gps": False}
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if len(body) < 13:
                raise ValueError("PNG IHDR truncated")
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
        elif tag == b"PLTE":
            plte = bytes(body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"eXIf":
            # r13: PNG carries EXIF too (PNG 1.5 eXIf chunk — the raw
            # TIFF blob, no JPEG APP1 wrapper); same orientation /
            # GPS-presence surface as parse_jpeg, corrupt EXIF keeps
            # defaults, never the whole parse
            try:
                exif = parse_exif(bytes(body))
            except (ValueError, IndexError):
                pass
        elif tag == b"IEND":
            break
        pos += 12 + length  # len + tag + body + crc
    if width is None:
        raise ValueError("PNG missing IHDR")
    channels = _PNG_CHANNELS.get(color_type)
    meta = {
        "format": "png",
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": bit_depth,
        "orientation": exif.get("orientation"),
        "has_gps": exif.get("has_gps", False),
        "pixels": None,
        "pixel_mean": None,
    }
    if (
        bit_depth not in _PNG_DEPTHS.get(color_type, ())
        or interlace not in (0, 1)
        or not idat
        or channels is None
        or (color_type == 3 and plte is None)
        # degenerate width/height 0: a legal-looking IHDR but nothing to
        # decode — pixels.mean() over an empty array would emit a numpy
        # RuntimeWarning and a NaN pixel_mean (r10 advisor); mirror
        # parse_wav's degenerate-fmt guards and stay metadata-only
        or width == 0
        or height == 0
        or (max_pixels is not None and width * height > max_pixels)
    ):
        return meta  # metadata-only tier
    bpp = max(1, channels * bit_depth // 8)
    passes = []
    expected = 0
    for x0, y0, dx, dy in (_ADAM7 if interlace else ((0, 0, 1, 1),)):
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # empty Adam7 pass carries no bytes (spec 8.2)
        stride = (pw * channels * bit_depth + 7) // 8
        passes.append((x0, y0, dx, dy, pw, ph, stride))
        expected += ph * (1 + stride)
    # inflate AT MOST the scanline geometry's bytes (late r12): a
    # crafted 4 MB IDAT can zlib-inflate ~1000x, and a lying 65535x65535
    # IHDR would otherwise size the output canvas before any length
    # check ran — cap the decompress at `expected` and reject short
    # streams BEFORE allocating pixels, so a decompression bomb costs
    # its compressed size, not its claimed one
    raw = zlib.decompressobj().decompress(bytes(idat), expected)
    if len(raw) < expected:
        raise ValueError("PNG IDAT shorter than the scanline geometry")
    out_dtype = np.uint16 if bit_depth == 16 else np.uint8
    full = np.zeros((height, width, channels), dtype=out_dtype)
    p = 0
    for x0, y0, dx, dy, pw, ph, stride in passes:
        rows, p = _png_defilter(raw, p, ph, stride, bpp)
        if bit_depth == 16:
            r = rows.reshape(ph, pw * channels, 2).astype(np.uint16)
            samples = ((r[..., 0] << 8) | r[..., 1]).reshape(ph, pw, channels)
        elif bit_depth == 8:
            samples = rows.reshape(ph, pw, channels)
        else:  # 1/2/4-bit: big-endian-first packed samples (spec 7.2)
            bits = np.unpackbits(rows, axis=1)
            grouped = bits[:, : (stride * 8 // bit_depth) * bit_depth].reshape(
                ph, -1, bit_depth
            )
            weights = 1 << np.arange(bit_depth - 1, -1, -1)
            vals = (grouped * weights).sum(axis=2).astype(np.uint8)
            samples = vals[:, : pw * channels].reshape(ph, pw, channels)
        full[y0::dy, x0::dx] = samples
    if color_type == 3:
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: 3 * (len(pal) // 3)].reshape(-1, 3)
        if not len(pal):
            raise ValueError("PNG PLTE chunk empty")
        idx = full[..., 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        pixels = pal[idx]  # (h, w, 3) RGB expansion
        meta["channels"] = 3
    elif color_type == 0 and bit_depth < 8:
        # scale 1/2/4-bit gray to the 0-255 range viewers render
        pixels = (full * (255 // ((1 << bit_depth) - 1))).astype(np.uint8)
    else:
        pixels = full
    meta["pixels"] = pixels
    meta["pixel_mean"] = float(pixels.mean())
    return meta


def _png_defilter(raw: bytes, p: int, height: int, stride: int, bpp: int):
    """De-filter ``height`` scanlines of ``stride`` bytes starting at
    offset ``p`` (PNG spec 9.2: filters act on BYTES, the 'left'
    neighbor ``bpp`` bytes back). Returns ``(rows, new_offset)`` with
    rows a (height, stride) uint8 array. Each interlace pass calls this
    independently — the first row of every pass predicts against a
    zero 'up' row (spec 8.2)."""
    import numpy as np

    # stride is always a whole number of filter units: sub-byte depths
    # have bpp = 1, byte depths have stride = pixels x bpp
    npx = stride // bpp
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ft = raw[p]
        line = np.frombuffer(raw[p + 1 : p + 1 + stride], dtype=np.uint8).astype(
            np.int32
        )
        p += 1 + stride
        if ft == 0:
            rec = line
        elif ft == 2:  # Up
            rec = (line + prev) % 256
        elif ft == 1:  # Sub: recon[i] = line[i] + recon[i - bpp] is a
            # per-byte-lane prefix sum mod 256, so one np.cumsum
            # reconstructs the whole scanline (r10 — ~74× over the
            # per-byte loop, SCALING.md). int64 cumsum cannot overflow
            # below ~3.6e16 columns.
            rec = (
                np.cumsum(line.reshape(npx, bpp), axis=0, dtype=np.int64)
                % 256
            ).reshape(stride).astype(np.int32)
        elif ft in (3, 4):  # Average / Paeth: the predictor mixes the UP
            # neighbor with the reconstructed LEFT, which breaks the
            # prefix-sum form — inherently sequential along the row.
            # r13 (MEDIA_BENCH profile): the r10 per-filter-unit numpy
            # formulation paid ~5 µs of array overhead per 1-4-byte
            # unit (97% of parse_png wall on Paeth-heavy content);
            # plain-int byte loops are ~7× faster at these widths and
            # bit-identical (the hand-built Average/Paeth golden rows
            # pin both arithmetics)
            lb = line.tolist()
            pv = prev.tolist()
            rl = [0] * stride
            if ft == 3:
                for i in range(bpp):
                    rl[i] = (lb[i] + (pv[i] >> 1)) & 255
                for i in range(bpp, stride):
                    rl[i] = (lb[i] + ((rl[i - bpp] + pv[i]) >> 1)) & 255
            else:
                for i in range(bpp):
                    rl[i] = (lb[i] + pv[i]) & 255  # a = c = 0 -> pred b
                for i in range(bpp, stride):
                    a = rl[i - bpp]
                    b = pv[i]
                    c = pv[i - bpp]
                    pa = b - c
                    if pa < 0:
                        pa = -pa
                    pb = a - c
                    if pb < 0:
                        pb = -pb
                    pc = a + b - 2 * c
                    if pc < 0:
                        pc = -pc
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    rl[i] = (lb[i] + pred) & 255
            rec = np.asarray(rl, dtype=np.int32)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = rec
        prev = rec
    return out, p


_SOF_MARKERS = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)


def parse_jpeg(payload: bytes) -> dict:
    """JPEG parse: walk the marker segments to the first SOFn and read
    precision / dimensions / component count; for Huffman-coded JPEGs
    (8-bit SOF0/SOF1 baseline, r11; SOF2 PROGRESSIVE, r12 — closing the
    r11 verdict's top user-visible boundary, a large share of crawl
    JPEGs are progressive; 12-bit SOF1/SOF2, r13) also the full pixel
    array and its mean via the pure-Python decoder below.
    Arithmetic-coded, CMYK and other exotic layouts stay metadata-only
    (``pixels`` / ``pixel_mean`` None) — wire PIL for those on a real
    cluster.

    late r12: an APP1 Exif segment ahead of the SOF contributes
    ``orientation`` / ``exif_make`` / ``exif_model`` / ``exif_datetime``
    / ``has_gps`` (see :func:`parse_exif` — GPS presence only, never
    coordinates); corrupt EXIF degrades those fields to their
    defaults, never the whole parse."""
    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG (bad SOI)")
    i = 2
    n = len(payload)
    exif = {"orientation": None, "make": None, "model": None,
            "datetime": None, "has_gps": False}
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker == 0xE1 and payload[i + 4 : i + 10] == b"Exif\x00\x00":
            (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
            try:
                exif = parse_exif(payload[i + 10 : i + 2 + seglen])
            except (ValueError, IndexError):
                pass  # corrupt EXIF: keep defaults, keep parsing
            i += 2 + seglen
            continue
        if marker in _SOF_MARKERS:
            meta = {
                "format": "jpeg",
                "width": int.from_bytes(payload[i + 7 : i + 9], "big"),
                "height": int.from_bytes(payload[i + 5 : i + 7], "big"),
                "channels": payload[i + 9],
                "bit_depth": payload[i + 4],
                "orientation": exif["orientation"],
                "exif_make": exif["make"],
                "exif_model": exif["model"],
                "exif_datetime": exif["datetime"],
                "has_gps": exif["has_gps"],
                "pixels": None,
                "pixel_mean": None,
            }
            pixels = _jpeg_pixel_tier(
                payload, meta["width"] * meta["height"]
            )
            if pixels is None:
                return meta  # metadata-only tier (non-baseline / corrupt / huge)
            meta["pixels"] = pixels
            meta["pixel_mean"] = float(pixels.mean())
            return meta
        if marker == 0xD9 or marker == 0xDA:  # EOI / start-of-scan
            break
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        i += 2 + seglen
    raise ValueError("JPEG missing SOF header")


_EXIF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def parse_exif(tiff: bytes) -> dict:
    """EXIF IFD0 parse (late r12) from the TIFF blob inside a JPEG APP1
    segment: orientation (tag 0x0112 — required to interpret dims on
    phone-camera crawls), Make/Model/DateTime text, and ``has_gps``
    (the 0x8825 GPS-IFD pointer's PRESENCE — a PII signal image
    curation filters on; the coordinates themselves are deliberately
    not extracted). Both byte orders; inline and offset values; corrupt
    entries are skipped, a corrupt header raises ValueError."""
    if tiff[:4] in (b"II*\x00",):
        bo = "little"
    elif tiff[:4] == b"MM\x00*":
        bo = "big"
    else:
        raise ValueError("not a TIFF header")

    def num(b: bytes) -> int:
        return int.from_bytes(b, bo)

    out = {
        "orientation": None,
        "make": None,
        "model": None,
        "datetime": None,
        "has_gps": False,
    }
    ifd = num(tiff[4:8])
    if ifd + 2 > len(tiff):
        return out
    count = num(tiff[ifd : ifd + 2])
    text_tags = {0x010F: "make", 0x0110: "model", 0x0132: "datetime"}
    for i in range(count):
        e = ifd + 2 + 12 * i
        if e + 12 > len(tiff):
            break
        tag = num(tiff[e : e + 2])
        typ = num(tiff[e + 2 : e + 4])
        n = num(tiff[e + 4 : e + 8])
        size = _EXIF_TYPE_SIZES.get(typ, 0) * n
        if size == 0 or size > 1 << 16:
            continue  # unknown type / absurd count: skip the entry
        if size <= 4:
            raw = tiff[e + 8 : e + 8 + size]
        else:
            off = num(tiff[e + 8 : e + 12])
            raw = tiff[off : off + size]
            if len(raw) < size:
                continue
        if tag == 0x0112 and typ == 3 and n >= 1:
            out["orientation"] = num(raw[:2])
        elif tag == 0x8825:
            out["has_gps"] = True
        elif tag in text_tags and typ == 2:
            out[text_tags[tag]] = (
                raw.split(b"\x00", 1)[0].decode("ascii", "replace").strip()
                or None
            )
    return out


def encode_exif_app1(
    *,
    orientation: int | None = None,
    make: str | None = None,
    gps: bool = False,
    byte_order: str = "little",
) -> bytes:
    """APP1 Exif segment body fixture (``Exif\\0\\0`` + TIFF IFD0) — the
    test counterpart of :func:`parse_exif`; pass it to
    :func:`splice_app1` or hand-build the JPEG wrapper in tests."""
    bo = byte_order
    entries = []
    tail = b""
    tail_base = None  # patched once the IFD size is known

    def ent(tag: int, typ: int, n: int, value: bytes) -> bytes:
        v = value + b"\x00" * (4 - len(value)) if len(value) <= 4 else value
        return (
            tag.to_bytes(2, bo) + typ.to_bytes(2, bo) + n.to_bytes(4, bo) + v
        )

    if orientation is not None:
        entries.append(ent(0x0112, 3, 1, orientation.to_bytes(2, bo)))
    if make is not None:
        data = make.encode("ascii") + b"\x00"
        if len(data) <= 4:
            entries.append(ent(0x010F, 2, len(data), data))
        else:
            entries.append((0x010F, 2, len(data), data))  # offset later
    if gps:
        entries.append(ent(0x8825, 4, 1, (8).to_bytes(4, bo)))
    n = len(entries)
    ifd_size = 2 + 12 * n + 4
    tail_base = 8 + ifd_size
    body = b""
    for x in entries:
        if isinstance(x, tuple):
            tag, typ, cnt, data = x
            body += (
                tag.to_bytes(2, bo) + typ.to_bytes(2, bo)
                + cnt.to_bytes(4, bo) + (tail_base + len(tail)).to_bytes(4, bo)
            )
            tail += data
        else:
            body += x
    header = b"II*\x00" if bo == "little" else b"MM\x00*"
    tiff = (
        header + (8).to_bytes(4, bo) + n.to_bytes(2, bo) + body
        + (0).to_bytes(4, bo) + tail
    )
    return b"Exif\x00\x00" + tiff


# parse_jpeg's pure-Python pixel tier is bit-serial Huffman (~seconds per
# megapixel): above this pixel count the CRAWL path (parse_jpeg /
# extract_image_meta, where one megapixel photo must not stall a whole
# Arrow batch) degrades to the metadata tier instead of decoding.
# decode_image — the explicit per-image API — still decodes any size.
PURE_JPEG_PIXEL_LIMIT = 1 << 21  # ~2.1 MP


def _jpeg_pixel_tier(payload: bytes, n_pixels: int):
    """Pixel decode for the crawl path: prefer PIL when importable
    (libjpeg is ~100× the pure tier — mirrors :func:`decode_image`'s
    gate, which parse_jpeg previously lacked, r11 advisor), else the
    pure-Python baseline/progressive decode capped at
    :data:`PURE_JPEG_PIXEL_LIMIT` pixels. Returns the uint8 array or ``None`` for the metadata-only
    tier. ANY decoder error degrades to ``None`` — truncated segment
    bodies raise struct.error (short DRI) or IndexError (short SOS
    component list), and before r12 those escaped parse_jpeg and nulled
    rows whose header metadata was perfectly readable (r11 advisor)."""
    try:
        import io

        import numpy as np
        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        img.load()
        if img.mode not in ("L", "RGB"):
            img = img.convert("RGB")
        return np.asarray(img)
    except ImportError:
        pass  # no PIL in this environment: pure tier below
    except Exception:
        # PIL rejected the payload (corrupt scan, exotic layout) — the
        # pure tier is strictly narrower, so this is the metadata tier
        return None
    if n_pixels > PURE_JPEG_PIXEL_LIMIT:
        return None
    try:
        return decode_jpeg_pixels(payload)
    except (ValueError, struct.error, IndexError):
        return None


# natural-order index for each zigzag scan position (computed, not
# transcribed: diagonal s runs bottom-left->top-right when s is even)
_ZIGZAG = tuple(
    8 * y + x
    for s in range(15)
    for y, x in sorted(
        ((y, s - y) for y in range(8) if 0 <= s - y < 8),
        reverse=(s % 2 == 0),
    )
)

def _dct_basis_n(n: int):
    """n-point DCT-II basis matrix A with A[u, x] = sqrt(2/n)·c(u)·
    cos((2x+1)uπ/2n) (c(0) = 1/√2, else 1): forward F = A·f·Aᵀ, inverse
    f = Aᵀ·F·A. JPEG decoding uses the 8-point one (:func:`_dct_basis`),
    pHash the 32-point one."""
    import numpy as np

    u = np.arange(n).reshape(n, 1)
    x = np.arange(n).reshape(1, n)
    a = np.sqrt(2.0 / n) * np.cos((2 * x + 1) * u * np.pi / (2 * n))
    a[0] /= np.sqrt(2.0)
    return a


@functools.cache
def _dct_basis():
    """The 8x8 DCT-II basis (A[u, x] = c(u)/2 · cos((2x+1)uπ/16)), built
    once: the matrix form lets numpy batch the IDCT over every block of
    an image at once (einsum), the same vectorization move as the r10 PNG
    Sub-filter work. Shared: callers must not write to it."""
    return _dct_basis_n(8)


# the standard Huffman tables from ITU T.81 Annex K §K.3.3 (the tables
# virtually every baseline encoder emits): (bits[1..16], values)
_STD_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_STD_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_STD_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)
_STD_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)


def _canonical_codes(bits):
    """Canonical Huffman (code, length) assignment per T.81 Annex C:
    codes of each length count up from twice the previous length's end."""
    out = []
    code = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("JPEG huffman BITS overflow")
            out.append((length, code))
            code += 1
        code <<= 1
    return out


def _huff_decode_lut(bits, vals):
    """(length, code) → symbol for the bit-serial decoder."""
    codes = _canonical_codes(bits)
    if len(codes) != len(vals):
        raise ValueError("JPEG huffman BITS/HUFFVAL mismatch")
    return {lc: v for lc, v in zip(codes, vals)}


def _huff_encode_lut(bits, vals):
    """symbol → (code, length) for the encoder."""
    codes = _canonical_codes(bits)
    return {v: (c, l) for (l, c), v in zip(codes, vals)}


class _JpegBitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, byte-aligns across
    RSTn markers, raises ValueError on truncation or marker desync."""

    __slots__ = ("data", "pos", "cur", "nbits")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            d, p = self.data, self.pos
            if p >= len(d):
                raise ValueError("JPEG entropy stream truncated")
            b = d[p]
            p += 1
            if b == 0xFF:
                if p >= len(d):
                    raise ValueError("JPEG entropy stream truncated at 0xFF")
                if d[p] == 0x00:
                    p += 1  # stuffed 0xFF data byte
                else:
                    raise ValueError("JPEG marker inside entropy stream")
            self.pos = p
            self.cur = b
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume the next RSTn marker (skipping fill
        0xFF bytes), per T.81 §B.2.1.2 / F.2.2.5."""
        self.nbits = 0
        d, p = self.data, self.pos
        while p + 1 < len(d) and d[p] == 0xFF and d[p + 1] == 0xFF:
            p += 1  # fill bytes
        if p + 1 >= len(d) or d[p] != 0xFF or not 0xD0 <= d[p + 1] <= 0xD7:
            raise ValueError("JPEG expected restart marker")
        self.pos = p + 2


def _huff_decode(reader: _JpegBitReader, lut: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = lut.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("JPEG invalid huffman code")


def _extend(v: int, n: int) -> int:
    """Sign-extend an n-bit magnitude value per T.81 F.2.2.1 EXTEND."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def _decode_scan(
    payload: bytes,
    pos: int,
    *,
    sel,
    by_cid,
    huff,
    coefs,
    mcux: int,
    mcuy: int,
    width: int,
    height: int,
    hmax: int,
    vmax: int,
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    precision: int = 8,
) -> int:
    """Decode ONE entropy-coded scan into the per-component quantized
    coefficient arrays and return the offset just past its entropy data.

    Unified sequential + progressive decoder: baseline is the
    ``ss=0, se=63, ah=al=0`` special case of the general T.81 machinery
    (§F.2.2 sequential; §G.2 progressive — spectral-selection bands,
    successive-approximation first and refinement passes, EOB-run
    coding). A single-component scan is NON-interleaved (§A.2.2): it
    walks the component's OWN block grid and sampling factors are
    ignored; multi-component scans walk MCUs. Restart markers reset the
    DC predictors AND the EOB run (§G.1.2.2, the encoder must flush
    both)."""
    reader = _JpegBitReader(payload, pos)
    interleaved = len(sel) > 1
    if interleaved:
        nunits, bw = mcux * mcuy, 0
    else:
        cid0, _, _ = sel[0]
        h0_, v0_, _ = by_cid[cid0]
        bw = -(-(-(-width * h0_ // hmax)) // 8)
        bh_ = -(-(-(-height * v0_ // vmax)) // 8)
        nunits = bw * bh_
    pred = {cid: 0 for cid, _, _ in sel}
    eobrun = 0
    first = ah == 0
    p1, m1 = 1 << al, -(1 << al)
    k0 = max(ss, 1)

    def decode_block(zz, dc_lut, ac_lut, cid) -> None:
        nonlocal eobrun
        if ss == 0:
            if first:
                t = _huff_decode(reader, dc_lut)
                if t > (11 if precision == 8 else 15):
                    raise ValueError("JPEG DC category out of range")
                pred[cid] += _extend(reader.receive(t), t)
                zz[0] = pred[cid] << al
            elif reader.read_bit():
                zz[0] |= p1  # DC refinement: one bit per block (§G.1.2.1)
        if se == 0:
            return
        k = k0
        if first:
            if eobrun:
                eobrun -= 1  # block is inside an EOB run: band stays 0
                return
            while k <= se:
                rs = _huff_decode(reader, ac_lut)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:  # ZRL: 16 zeros
                        k += 16
                        continue
                    # EOBn: this block ends; the next (1<<r)-1+ext
                    # blocks are all-zero in this band (§G.1.2.2)
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.receive(r)
                    break
                k += r
                if k > se:
                    raise ValueError("JPEG AC index overflow")
                zz[k] = _extend(reader.receive(s), s) << al
                k += 1
            return
        # refinement pass (§G.1.2.3): coefficients already nonzero from
        # earlier passes take ONE correction bit each as the scan passes
        # them; newly-significant coefficients appear as +-(1 << al)
        if eobrun == 0:
            while k <= se:
                rs = _huff_decode(reader, ac_lut)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.receive(r)
                        break  # rest of the block via the EOB-run pass
                    val = 0  # ZRL: pass 16 zero-HISTORY coefficients
                else:
                    if s != 1:
                        raise ValueError("JPEG refinement magnitude != 1")
                    val = p1 if reader.read_bit() else m1
                while k <= se:
                    c = int(zz[k])
                    if c != 0:
                        if reader.read_bit() and not (c & p1):
                            zz[k] = c + (p1 if c > 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    zz[k] = val
                k += 1
        if eobrun:
            # EOB-run completion: correction bits for the remaining
            # nonzero-history coefficients of the band
            while k <= se:
                c = int(zz[k])
                if c != 0 and reader.read_bit() and not (c & p1):
                    zz[k] = c + (p1 if c > 0 else m1)
                k += 1
            eobrun -= 1

    for unit in range(nunits):
        if restart_interval and unit and unit % restart_interval == 0:
            reader.restart()
            for c in pred:
                pred[c] = 0
            eobrun = 0
        if interleaved:
            my, mx = divmod(unit, mcux)
            for cid, dc_id, ac_id in sel:
                h, v, _ = by_cid[cid]
                dc_lut, ac_lut = huff.get((0, dc_id)), huff.get((1, ac_id))
                blocks = coefs[cid]
                for bv in range(v):
                    for bh in range(h):
                        decode_block(
                            blocks[my * v + bv, mx * h + bh],
                            dc_lut,
                            ac_lut,
                            cid,
                        )
        else:
            cid, dc_id, ac_id = sel[0]
            byi, bxi = divmod(unit, bw)
            decode_block(
                coefs[cid][byi, bxi],
                huff.get((0, dc_id)),
                huff.get((1, ac_id)),
                cid,
            )
    return reader.pos


def decode_jpeg_pixels(payload: bytes):
    """Pure-Python JPEG pixel decode (T.81: Huffman entropy coding per
    §F.2, progressive multi-scan per §G.2, dequantize, 8x8 IDCT, chroma
    upsample, YCbCr→RGB per JFIF 1.02 §7). Returns a uint8 numpy array —
    (h, w) for single-component images, (h, w, 3) RGB otherwise.

    Scope (everything else raises ValueError, which parse_jpeg maps to
    the metadata-only tier): SOF0/SOF1 sequential and SOF2 PROGRESSIVE
    frames (r12 — spectral selection, successive approximation, EOB-run
    coding, interleaved and non-interleaved scans), 8-bit AND 12-bit
    precision (r13 — 12-bit legal in SOF1/SOF2 only per B.2.2; output
    is uint16 on the 0..4095 range), 1 or 3 components, sampling
    factors where the max divides each component's (the 4:4:4 / 4:2:2
    / 4:2:0 layouts real crawls contain), optional restart intervals,
    tables redefined between scans. Arithmetic coding (SOF9+) stays out
    of scope: no reference bitstreams or external codec exist in this
    container to validate the 113-state QM-coder table against, and an
    unvalidated table would round-trip against its own encoder while
    failing real streams — the metadata tier + PIL gate is the honest
    boundary.

    The per-block Huffman loop is Python (inherently bit-serial); the
    IDCT — the arithmetic bulk — is one batched einsum over ALL of a
    component's blocks (see :func:`_dct_basis`), and upsample / color
    convert are whole-plane numpy ops."""
    import numpy as np

    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG (bad SOI)")
    n = len(payload)
    quant: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> lut
    frame = None  # (height, width, [(cid, h, v, tq), ...])
    progressive = False
    precision = 8
    restart_interval = 0
    nscans = 0
    coefs: dict[int, "np.ndarray"] = {}
    by_cid: dict[int, tuple] = {}
    hmax = vmax = mcux = mcuy = 0
    i = 2
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        body = payload[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(body[p : p + 64], dtype=np.uint8)
                    p += 64
                else:
                    tbl = np.frombuffer(
                        body[p : p + 128], dtype=">u2"
                    ).astype(np.int64)
                    p += 128
                if len(tbl) != 64:
                    raise ValueError("JPEG DQT truncated")
                # store in NATURAL order (DQT bodies are zigzag)
                nat = np.zeros(64, dtype=np.int64)
                nat[list(_ZIGZAG)] = tbl
                quant[tq] = nat
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = tuple(body[p + 1 : p + 17])
                nvals = sum(bits)
                vals = tuple(body[p + 17 : p + 17 + nvals])
                if len(vals) != nvals:
                    raise ValueError("JPEG DHT truncated")
                huff[(tc, th)] = _huff_decode_lut(bits, vals)
                p += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            if frame is not None:
                raise ValueError("JPEG multiple frames unsupported")
            progressive = marker == 0xC2
            precision = body[0]
            if precision not in (8, 12):
                raise ValueError("JPEG precision not 8 or 12")
            if precision == 12 and marker == 0xC0:
                # T.81 B.2.2: baseline SOF0 is 8-bit only; 12-bit lives
                # in extended sequential (SOF1) / progressive (SOF2)
                raise ValueError("JPEG 12-bit illegal in baseline SOF0")
            height, width = struct.unpack(">HH", body[1:5])
            if height == 0 or width == 0:
                raise ValueError("JPEG degenerate dimensions")
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise ValueError(f"JPEG {ncomp}-component unsupported")
            comps = []
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                hv = body[7 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * ci]))
            frame = (height, width, comps)
            by_cid = {cid: (h, v, tq) for cid, h, v, tq in comps}
            hmax = max(h for _, h, v, _ in comps)
            vmax = max(v for _, h, v, _ in comps)
            for _, h, v, _ in comps:
                if h < 1 or v < 1 or hmax % h or vmax % v:
                    raise ValueError("JPEG non-integer chroma subsampling")
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            for cid, h, v, _ in comps:
                coefs[cid] = np.zeros((mcuy * v, mcux * h, 64), np.int32)
        elif marker in _SOF_MARKERS:  # arithmetic / lossless / 12-bit...
            raise ValueError("JPEG non-Huffman frame (metadata tier)")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            sel = []
            for si in range(ns):
                cid = body[1 + 2 * si]
                tbls = body[2 + 2 * si]
                if cid not in by_cid:
                    raise ValueError("JPEG scan references unknown component")
                sel.append((cid, tbls >> 4, tbls & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            if progressive:
                # §G.1: a DC scan is the 0..0 band; AC scans carry ONE
                # component; refinement steps one bit at a time
                if (
                    se > 63
                    or (ss == 0) != (se == 0)
                    or (ss > 0 and ns != 1)
                    or (ah and ah != al + 1)
                ):
                    raise ValueError("JPEG bad progressive scan header")
            elif (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("JPEG bad sequential scan header")
            for cid, dc_id, ac_id in sel:
                if ss == 0 and ah == 0 and (0, dc_id) not in huff:
                    raise ValueError("JPEG missing huffman table")
                if se > 0 and (1, ac_id) not in huff:
                    raise ValueError("JPEG missing huffman table")
            after = _decode_scan(
                payload,
                i + 2 + seglen,
                sel=sel,
                by_cid=by_cid,
                huff=huff,
                coefs=coefs,
                mcux=mcux,
                mcuy=mcuy,
                width=width,
                height=height,
                hmax=hmax,
                vmax=vmax,
                restart_interval=restart_interval,
                ss=ss,
                se=se,
                ah=ah,
                al=al,
                precision=precision,
            )
            nscans += 1
            # the bit reader stops inside the last entropy byte: walk to
            # the next true marker (skip stuffed 0xFF00 and stray RSTn)
            i = after
            while i + 1 < n and not (
                payload[i] == 0xFF
                and payload[i + 1] != 0x00
                and not 0xD0 <= payload[i + 1] <= 0xD7
            ):
                i += 1
            continue
        i += 2 + seglen
    if frame is None or nscans == 0:
        raise ValueError("JPEG missing SOF or SOS")
    height, width, comps = frame

    # dequantize + batched IDCT + plane assembly per component (frame
    # order, which T.81 B.2.3 requires scans to follow)
    basis = _dct_basis()
    inv_zz = np.argsort(np.asarray(_ZIGZAG))
    planes = []
    for cid, h, v, tq in comps:
        if tq not in quant:
            raise ValueError("JPEG missing quant table")
        by, bx = mcuy * v, mcux * h
        nat = (coefs[cid] * quant[tq][np.asarray(_ZIGZAG)]).reshape(
            by * bx, 64
        )[:, inv_zz].reshape(by * bx, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", basis, nat, basis)
        plane = (
            spatial.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        mid = 1 << (precision - 1)
        maxv = (1 << precision) - 1
        plane = np.clip(np.round(plane) + mid, 0, maxv)
        # crop to the component's true dims, then sample-replicate up
        cw = -(-width * h // hmax)
        ch = -(-height * v // vmax)
        plane = plane[:ch, :cw]
        if h != hmax or v != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1
            )
        planes.append(plane[:height, :width])
    mid = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    dtype = np.uint8 if precision == 8 else np.uint16
    if len(planes) == 1:
        return planes[0].astype(dtype)
    y, cb, cr = (p.astype(np.float64) for p in planes)
    r = y + 1.402 * (cr - mid)
    g = y - 0.344136 * (cb - mid) - 0.714136 * (cr - mid)
    b = y + 1.772 * (cb - mid)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, maxv).astype(dtype)


class _JpegBitWriter:
    """Entropy-segment bit writer: MSB-first, stuffs 0x00 after any
    emitted 0xFF data byte, pads the final byte with 1-bits (T.81
    §B.1.1.5 / F.1.2.3)."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        acc = (self.acc << length) | (code & ((1 << length) - 1))
        nbits = self.nbits + length
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _jpeg_category(v: int) -> int:
    """Magnitude category (bit length of |v|) per T.81 F.1.2.1.1."""
    return abs(v).bit_length()


def _jpeg_quantized_blocks(pixels, quant, subsample: str, precision: int = 8):
    """Shared encoder front half: validate, RGB→YCbCr, box-average
    chroma subsample, pad to the MCU grid, batched forward DCT,
    quantize, zigzag. Returns ``(comps, blocks_by_comp, mcux, mcuy,
    h0, w0, q_nat, gray)`` where ``comps`` is [(cid, h, v)] and each
    blocks array is (grid_y, grid_x, 64) int64 in zigzag order.
    ``precision`` 8 takes uint8 pixels; 12 (r13) takes integers on
    0..4095 (level shift 2048, AC envelope 14 bits per T.81 F.1.2.2)."""
    import numpy as np

    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    if precision == 8:
        px = np.asarray(pixels, dtype=np.uint8)
    else:
        px = np.asarray(pixels)
        if px.min() < 0 or px.max() > 4095:
            raise ValueError("12-bit pixels must be in [0, 4095]")
        px = px.astype(np.int64)
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("pixels must be (h, w) gray or (h, w, 3) RGB")
    h0, w0 = px.shape[:2]
    if h0 == 0 or w0 == 0:
        raise ValueError("empty image")
    if quant is None:
        q_nat = np.ones(64, dtype=np.int64)
    else:
        q_nat = np.asarray(quant, dtype=np.int64).reshape(64)
        if (q_nat < 1).any() or (q_nat > 255).any():
            raise ValueError("quant entries must be in [1, 255]")
    try:
        sh, sv = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}[subsample]
    except KeyError:
        raise ValueError("subsample must be '4:4:4', '4:2:2' or '4:2:0'")
    if gray:
        sh = sv = 1

    mid = float(1 << (precision - 1))
    f = px.astype(np.float64)
    if gray:
        planes = [f - mid]
        comps = [(1, 1, 1)]  # (cid, h, v)
    else:
        r, g, b = f[..., 0], f[..., 1], f[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + mid
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + mid
        if sh > 1 or sv > 1:
            # pad to the sampling multiple with edge replication, then
            # box-average along the subsampled axes
            def down(p):
                ph = np.pad(
                    p,
                    ((0, -p.shape[0] % sv), (0, -p.shape[1] % sh)),
                    mode="edge",
                )
                return (
                    ph.reshape(ph.shape[0] // sv, sv, ph.shape[1] // sh, sh)
                    .mean(axis=(1, 3))
                )

            cb, cr = down(cb), down(cr)
        planes = [y - mid, cb - mid, cr - mid]
        comps = [(1, sh, sv), (2, 1, 1), (3, 1, 1)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w0 // (8 * hmax))
    mcuy = -(-h0 // (8 * vmax))

    # forward DCT every block of every plane (batched), quantize
    basis = _dct_basis()
    zz = np.asarray(_ZIGZAG)
    blocks_by_comp = []
    for (cid, ch, cv), plane in zip(comps, planes):
        tw, th = mcux * ch * 8, mcuy * cv * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        by, bx = th // 8, tw // 8
        f8 = (
            plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        coef = np.einsum("ux,nxy,yv->nuv", basis, f8, basis.T)
        qz = np.round(coef.reshape(-1, 64) / q_nat).astype(np.int64)
        # baseline magnitude bounds: DC diffs fit category <= 11 by
        # construction at unit quant; clamp AC to the 10-bit envelope
        ac_lim = 1023 if precision == 8 else 16383  # 10/14-bit envelopes
        qz[:, 1:] = np.clip(qz[:, 1:], -ac_lim, ac_lim)
        blocks_by_comp.append(qz[:, zz].reshape(by, bx, 64))
    return comps, blocks_by_comp, mcux, mcuy, h0, w0, q_nat, gray


def encode_jpeg_baseline(
    pixels,
    *,
    quant=None,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Minimal, spec-correct baseline JPEG writer — the fixture /
    round-trip counterpart of :func:`decode_jpeg_pixels`, exactly as
    :func:`encode_png` is to :func:`parse_png` (no imaging library in
    this container). ``pixels`` is a uint8 numpy array: (h, w) grayscale
    or (h, w, 3) RGB. Emits SOF0 with the standard T.81 Annex K Huffman
    tables; one quant table shared by all components, NATURAL order,
    default all-ones — with unit quantization a DC-only image (constant
    8x8 blocks) round-trips bit-exactly, which is what the closed-form
    oracles lean on. ``subsample``: '4:4:4', '4:2:2' or '4:2:0' (chroma
    box-averaged along the subsampled axes). ``restart_interval`` > 0
    emits DRI + RSTn markers every that many MCUs. ``precision`` 12
    (r13) emits an SOF1 extended-sequential frame (12-bit is illegal in
    baseline SOF0 per B.2.2) with flat Huffman tables reaching the
    12-bit DC/AC category range the Annex K tables don't cover."""
    comps, blocks_by_comp, mcux, mcuy, h0, w0, q_nat, gray = (
        _jpeg_quantized_blocks(pixels, quant, subsample, precision)
    )

    # entropy-code the interleaved scan
    if precision == 8:
        dc_luma, ac_luma = _STD_DC_LUMA, _STD_AC_LUMA
        dc_chroma, ac_chroma = _STD_DC_CHROMA, _STD_AC_CHROMA
    else:
        dc_luma = dc_chroma = _FLAT_DC_TABLE
        ac_luma = ac_chroma = _FLAT_AC_TABLE
    luts = {
        (0, 0): _huff_encode_lut(*dc_luma),
        (1, 0): _huff_encode_lut(*ac_luma),
        (0, 1): _huff_encode_lut(*dc_chroma),
        (1, 1): _huff_encode_lut(*ac_chroma),
    }
    writer = _JpegBitWriter()
    pred = {cid: 0 for cid, _, _ in comps}
    mcu_count = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                writer.buf.extend((0xFF, 0xD0 + rst_n))
                rst_n = (rst_n + 1) % 8
                pred = {cid: 0 for cid, _, _ in comps}
            for ci, (cid, ch, cv) in enumerate(comps):
                tid = 0 if ci == 0 else 1
                dc_lut, ac_lut = luts[(0, tid)], luts[(1, tid)]
                for bv in range(cv):
                    for bh in range(ch):
                        blk = blocks_by_comp[ci][my * cv + bv, mx * ch + bh]
                        diff = int(blk[0]) - pred[cid]
                        pred[cid] = int(blk[0])
                        t = _jpeg_category(diff)
                        code, ln = dc_lut[t]
                        writer.write(code, ln)
                        if t:
                            writer.write(
                                diff if diff >= 0 else diff + (1 << t) - 1, t
                            )
                        run = 0
                        for k in range(1, 64):
                            v = int(blk[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_lut[0xF0]  # ZRL
                                writer.write(code, ln)
                                run -= 16
                            s = _jpeg_category(v)
                            code, ln = ac_lut[(run << 4) | s]
                            writer.write(code, ln)
                            writer.write(v if v >= 0 else v + (1 << s) - 1, s)
                            run = 0
                        if run:
                            code, ln = ac_lut[0x00]  # EOB
                            writer.write(code, ln)
            mcu_count += 1
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0]) + bytes(int(q_nat[i]) for i in _ZIGZAG))
    sof_comps = b"".join(
        bytes((cid, (ch << 4) | cv, 0)) for cid, ch, cv in comps
    )
    sof = seg(
        0xC0 if precision == 8 else 0xC1,
        bytes([precision])
        + struct.pack(">HH", h0, w0)
        + bytes([len(comps)])
        + sof_comps,
    )

    def dht(tc: int, th: int, table) -> bytes:
        bits, vals = table
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    dhts = dht(0, 0, dc_luma) + dht(1, 0, ac_luma)
    if not gray:
        dhts += dht(0, 1, dc_chroma) + dht(1, 1, ac_chroma)
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos_comps = b"".join(
        bytes((cid, 0 if ci == 0 else 0x11))
        for ci, (cid, _, _) in enumerate(comps)
    )
    sos = seg(0xDA, bytes([len(comps)]) + sos_comps + bytes((0, 63, 0)))
    return (
        b"\xff\xd8"
        + dqt
        + sof
        + dhts
        + dri
        + sos
        + bytes(writer.buf)
        + b"\xff\xd9"
    )


# One flat Huffman table for every progressive AC scan: all 240 (run,
# size) symbols at code length 9 — progressive needs the EOBn symbols
# (run 1..14, size 0) the standard Annex K tables don't define, 12-bit
# scans (r13) need sizes 11..14, and a fixture encoder doesn't care
# about compression. Canonical-valid: 240 codes of one length
# < 2^9 - 1 (the all-ones prefix stays reserved).
_FLAT_AC_TABLE = (
    (0, 0, 0, 0, 0, 0, 0, 0, 240, 0, 0, 0, 0, 0, 0, 0),
    tuple((r << 4) | s for r in range(16) for s in range(15)),
)

# Flat DC table covering categories 0..15 (Annex K's DC tables stop at
# 11; 12-bit DC differences reach category 15 per T.81 F.1.2.1).
_FLAT_DC_TABLE = (
    (0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(16)),
)

# libjpeg-shaped default progressive scripts (jcparam.c): DC first at
# Al=1, coarse AC bands, then one successive-approximation refinement
# ladder per band down to Al=0. Entries are (comp_indices, Ss, Se, Ah,
# Al); comp indices are positions in the frame component list.
_PROGRESSIVE_SCRIPT_GRAY = (
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
)
_PROGRESSIVE_SCRIPT_COLOR = (
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
)


def encode_jpeg_progressive(
    pixels,
    *,
    quant=None,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
    scans=None,
    precision: int = 8,
) -> bytes:
    """Progressive (SOF2) JPEG writer — the fixture / round-trip
    counterpart of :func:`decode_jpeg_pixels`'s §G.2 path, exactly as
    :func:`encode_jpeg_baseline` is to its sequential path (no imaging
    library in this container). Same pixel/quant/subsample surface as
    the baseline encoder; ``scans`` overrides the libjpeg-shaped default
    script with (comp_indices, Ss, Se, Ah, Al) tuples. Coefficients are
    IDENTICAL to what the baseline encoder emits for the same inputs —
    the successive-approximation ladder must reassemble them bit-exactly
    (T.81 §G.1.2: DC point transform is an arithmetic shift; AC is a
    sign-magnitude shift with refinement bits appended low to high), so
    decode(progressive bytes) == decode(baseline bytes) is the oracle.

    Scan encoders follow §G.1.2.2-3: EOB runs accumulate across blocks
    (flushed before any non-EOB symbol, restart marker, and at scan
    end); refinement buffers correction bits for already-significant
    coefficients and emits them after the next symbol, trailing ones
    after the EOBn symbol."""
    comps, blocks_by_comp, mcux, mcuy, h0, w0, q_nat, gray = (
        _jpeg_quantized_blocks(pixels, quant, subsample, precision)
    )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if scans is None:
        scans = _PROGRESSIVE_SCRIPT_GRAY if gray else _PROGRESSIVE_SCRIPT_COLOR

    # 12-bit (r13) needs DC categories up to 15 — flat table; the AC
    # table is flat (and 12-bit-wide) in every case
    dc_tbl = {
        0: _STD_DC_LUMA if precision == 8 else _FLAT_DC_TABLE,
        1: _STD_DC_CHROMA if precision == 8 else _FLAT_DC_TABLE,
    }
    dc_luts = {k: _huff_encode_lut(*t) for k, t in dc_tbl.items()}
    ac_lut = _huff_encode_lut(*_FLAT_AC_TABLE)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(q_nat[i]) for i in _ZIGZAG))
    out += seg(
        0xC2,
        bytes([precision])
        + struct.pack(">HH", h0, w0)
        + bytes([len(comps)])
        + b"".join(bytes((cid, (ch << 4) | cv, 0)) for cid, ch, cv in comps),
    )
    out += seg(
        0xC4, bytes([0x00]) + bytes(dc_tbl[0][0]) + bytes(dc_tbl[0][1])
    )
    if not gray:
        out += seg(
            0xC4,
            bytes([0x01]) + bytes(dc_tbl[1][0]) + bytes(dc_tbl[1][1]),
        )
    out += seg(
        0xC4,
        bytes([0x10]) + bytes(_FLAT_AC_TABLE[0]) + bytes(_FLAT_AC_TABLE[1]),
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    for comp_idx, ss, se, ah, al in scans:
        sos_comps = b"".join(
            bytes((comps[ci][0], ((0 if ci == 0 else 1) << 4) | 0))
            for ci in comp_idx
        )
        out += seg(
            0xDA,
            bytes([len(comp_idx)])
            + sos_comps
            + bytes((ss, se, (ah << 4) | al)),
        )
        out += _encode_progressive_scan(
            comps,
            blocks_by_comp,
            comp_idx,
            ss,
            se,
            ah,
            al,
            mcux=mcux,
            mcuy=mcuy,
            width=w0,
            height=h0,
            hmax=hmax,
            vmax=vmax,
            restart_interval=restart_interval,
            dc_luts=dc_luts,
            ac_lut=ac_lut,
        )
    out += b"\xff\xd9"
    return bytes(out)


def _encode_progressive_scan(
    comps,
    blocks_by_comp,
    comp_idx,
    ss: int,
    se: int,
    ah: int,
    al: int,
    *,
    mcux: int,
    mcuy: int,
    width: int,
    height: int,
    hmax: int,
    vmax: int,
    restart_interval: int,
    dc_luts,
    ac_lut,
) -> bytes:
    """Entropy-code ONE progressive scan's data (§G.1.2), mirroring
    :func:`_decode_scan`'s walk: interleaved MCU order for
    multi-component scans, the component's own block grid otherwise."""
    writer = _JpegBitWriter()
    first = ah == 0
    interleaved = len(comp_idx) > 1
    eobrun = 0
    pending_br: list[int] = []  # refinement bits riding the open EOB run

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_lut[r << 4]
            writer.write(code, ln)
            if r:
                writer.write(eobrun - (1 << r), r)
            eobrun = 0
            for bit in pending_br:
                writer.write(bit, 1)
            pending_br.clear()

    def ac_first_block(blk) -> None:
        nonlocal eobrun
        run = 0
        for k in range(ss, se + 1):
            v = int(blk[k])
            v = -((-v) >> al) if v < 0 else v >> al  # sign-magnitude shift
            if v == 0:
                run += 1
                continue
            flush_eobrun()
            while run > 15:
                code, ln = ac_lut[0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            s = _jpeg_category(v)
            code, ln = ac_lut[(run << 4) | s]
            writer.write(code, ln)
            writer.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()

    def ac_refine_block(blk) -> None:
        nonlocal eobrun
        absval = []
        eob = ss - 1  # index of the LAST newly-significant coefficient
        for k in range(ss, se + 1):
            t = abs(int(blk[k])) >> al
            absval.append(t)
            if t == 1:
                eob = k
        run = 0
        br: list[int] = []
        for k in range(ss, se + 1):
            t = absval[k - ss]
            if t == 0:
                run += 1
                continue
            while run > 15 and k <= eob:
                flush_eobrun()
                code, ln = ac_lut[0xF0]
                writer.write(code, ln)
                run -= 16
                for bit in br:
                    writer.write(bit, 1)
                br = []
            if t > 1:
                # already significant: one correction bit, buffered
                br.append(t & 1)
                continue
            # newly significant (|coef| >> al == 1): run-length + sign
            flush_eobrun()
            code, ln = ac_lut[(run << 4) | 1]
            writer.write(code, ln)
            writer.write(0 if int(blk[k]) < 0 else 1, 1)
            for bit in br:
                writer.write(bit, 1)
            br = []
            run = 0
        if run or br:
            eobrun += 1
            pending_br.extend(br)
            if eobrun == 0x7FFF:
                flush_eobrun()

    def encode_block(blk, dc_lut, pred_key) -> None:
        if ss == 0:
            v0 = int(blk[0]) >> al  # DC point transform: arithmetic shift
            if first:
                diff = v0 - pred[pred_key]
                pred[pred_key] = v0
                t = _jpeg_category(diff)
                code, ln = dc_lut[t]
                writer.write(code, ln)
                if t:
                    writer.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
            else:
                writer.write(v0 & 1, 1)
            return
        if first:
            ac_first_block(blk)
        else:
            ac_refine_block(blk)

    if interleaved:
        nunits, bw = mcux * mcuy, 0
    else:
        ci = comp_idx[0]
        _, h, v = comps[ci]
        bw = -(-(-(-width * h // hmax)) // 8)
        bh2 = -(-(-(-height * v // vmax)) // 8)
        nunits = bw * bh2
    pred = {ci: 0 for ci in comp_idx}
    rst_n = 0
    for unit in range(nunits):
        if restart_interval and unit and unit % restart_interval == 0:
            flush_eobrun()
            writer.flush()
            writer.buf.extend((0xFF, 0xD0 + rst_n))
            rst_n = (rst_n + 1) % 8
            for c in pred:
                pred[c] = 0
        if interleaved:
            my, mx = divmod(unit, mcux)
            for ci in comp_idx:
                _, h, v = comps[ci]
                dc_lut = dc_luts[0 if ci == 0 else 1]
                for bv in range(v):
                    for bh in range(h):
                        encode_block(
                            blocks_by_comp[ci][my * v + bv, mx * h + bh],
                            dc_lut,
                            ci,
                        )
        else:
            ci = comp_idx[0]
            byi, bxi = divmod(unit, bw)
            encode_block(
                blocks_by_comp[ci][byi, bxi], dc_luts[0 if ci == 0 else 1], ci
            )
    flush_eobrun()
    writer.flush()
    return bytes(writer.buf)


def _gif_lzw_decode(data: bytes, min_code: int, n_pixels: int) -> bytes:
    """GIF-variant LZW decode (GIF89a spec appendix F): LSB-first
    variable-width codes starting at ``min_code``+1 bits, clear/end
    codes, width bumps when the next entry would overflow the current
    width, 12-bit ceiling with deferred clear, and the KwKwK
    first-unseen-code case. Returns exactly ``n_pixels`` palette
    indexes; short streams raise ValueError."""
    clear = 1 << min_code
    end = clear + 1
    out = bytearray()
    # bit reader state (LSB-first within and across bytes)
    acc = nbits = pos = 0

    def read(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        v = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return v

    def reset():
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code + 1

    table, width = reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = read(width)
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK: the code not yet in OUR table
        else:
            raise ValueError("GIF LZW code out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended early")
    return bytes(out[:n_pixels])


def _gif_lzw_encode(indexes: bytes, min_code: int) -> bytes:
    """GIF-variant LZW encode — the fixture counterpart of
    :func:`_gif_lzw_decode` (real greedy-dictionary compression, so the
    decoder's table-growth, width-bump, and 12-bit-reset paths are all
    exercised by round-trips, not just literal codes)."""
    clear = 1 << min_code
    end = clear + 1
    out = bytearray()
    acc = nbits = 0

    def write(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def reset():
        return {bytes([i]): i for i in range(clear)}, end + 1, min_code + 1

    table, next_code, width = reset()
    write(clear, width)
    seq = b""
    for b in indexes:
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        write(table[seq], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            write(clear, width)
            table, next_code, width = reset()
        seq = bytes([b])
    if seq:
        write(table[seq], width)
    write(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def parse_gif(payload: bytes) -> dict:
    """GIF87a/89a parse (r12): logical-screen dims, palette depth, the
    FRAME COUNT via a full block walk (extensions skip their sub-block
    chains; frames past the first skip their LZW sub-blocks without
    decoding a pixel, so a million-frame crawl GIF costs microseconds)
    — plus a REAL pixel decode of the FIRST frame (late r12,
    :func:`_gif_lzw_decode`): variable-width LZW, local-over-global
    palette, the 4-pass GIF interlace row order, frames smaller than
    the screen composited onto a zero canvas at their offset.
    ``pixels`` is the (screen_h, screen_w, 3) RGB expansion of frame 1
    (animation/transparency composition is a player concern, not a
    feature-extraction one); a corrupt or paletteless first frame keeps
    the metadata-only tier. A truncated tail ends the frame-count walk
    at the consistent prefix, like :func:`parse_mp3`."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("GIF header truncated")
    width, height = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    bit_depth = ((packed >> 4) & 0x7) + 1  # color resolution
    pos = 13
    global_pal = None
    if packed & 0x80:  # global color table: 3 * 2^(N+1) bytes
        n = 3 * (2 << (packed & 0x7))
        global_pal = payload[pos : pos + n]
        pos += n

    def skip_subblocks(p: int) -> int:
        while p < len(payload):
            n = payload[p]
            p += 1
            if n == 0:
                return p
            p += n
        return p

    n_frames = 0
    first = None  # (left, top, fw, fh, interlaced, palette, min_code, data)
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos = skip_subblocks(pos + 2)
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                break  # truncated descriptor: stop at the prefix
            left, top, fw, fh = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
            lpacked = payload[pos + 9]
            pos += 10
            pal = global_pal
            if lpacked & 0x80:
                n = 3 * (2 << (lpacked & 0x7))
                pal = payload[pos : pos + n]
                pos += n
            if pos >= len(payload):
                break
            min_code = payload[pos]
            pos += 1
            data_start = pos
            pos = skip_subblocks(pos)
            if n_frames == 0:
                # concatenate the first frame's LZW sub-blocks
                chunks, q = [], data_start
                while q < len(payload):
                    n = payload[q]
                    q += 1
                    if n == 0:
                        break
                    chunks.append(payload[q : q + n])
                    q += n
                first = (
                    left, top, fw, fh, bool(lpacked & 0x40), pal, min_code,
                    b"".join(chunks),
                )
            n_frames += 1
        else:
            break  # junk block id: stop at the consistent prefix
    meta = {
        "format": "gif",
        "width": width,
        "height": height,
        "channels": 3,  # palette entries are RGB
        "bit_depth": bit_depth,
        "n_frames": n_frames,
        "pixels": None,
        "pixel_mean": None,
    }
    if (
        first is None
        or first[5] is None
        or width == 0
        or height == 0
        or not 2 <= first[6] <= 11
        # the LZW loop is Python-per-code and the canvas allocates at
        # HEADER-claimed dims: cap the pixel tier like the JPEG crawl
        # path (late r12) — a lying 65535x65535 descriptor must cost
        # nothing, and a genuinely huge GIF stays metadata-only here
        # (PIL on a real cluster for those)
        or width * height > PURE_JPEG_PIXEL_LIMIT
        or first[2] * first[3] > PURE_JPEG_PIXEL_LIMIT
    ):
        return meta  # metadata-only tier (no frame / palette / too big)
    left, top, fw, fh, interlaced, pal_bytes, min_code, data = first
    try:
        idx = np.frombuffer(
            _gif_lzw_decode(data, min_code, fw * fh), dtype=np.uint8
        ).reshape(fh, fw)
    except ValueError:
        return meta  # corrupt first-frame stream: metadata tier
    if interlaced:  # 4-pass row order: 0,8,16../4,12../2,6../1,3,5..
        order = np.concatenate(
            [np.arange(o, fh, s) for o, s in ((0, 8), (4, 8), (2, 4), (1, 2))]
        )
        deinter = np.zeros_like(idx)
        deinter[order] = idx
        idx = deinter
    pal = np.frombuffer(pal_bytes, dtype=np.uint8)
    pal = pal[: 3 * (len(pal) // 3)].reshape(-1, 3)
    if not len(pal) or int(idx.max(initial=0)) >= len(pal):
        return meta  # palette index out of range: metadata tier
    canvas = np.zeros((height, width, 3), dtype=np.uint8)
    eh, ew = min(height, top + fh), min(width, left + fw)
    if eh <= top or ew <= left:
        return meta  # frame rect entirely off-screen
    canvas[top:eh, left:ew] = pal[idx][: eh - top, : ew - left]
    meta["pixels"] = canvas
    meta["pixel_mean"] = float(canvas.mean())
    return meta


def encode_gif(indexes, palette, *, interlace: bool = False) -> bytes:
    """Single-frame GIF89a writer with REAL LZW compression — the
    round-trip counterpart of :func:`parse_gif`'s pixel tier (late r12;
    :func:`encode_gif_skeleton` remains the structure-only multi-frame
    fixture). ``indexes`` is the (h, w) uint8 palette-index array,
    ``palette`` (n ≤ 256, 3) uint8 RGB; ``interlace`` writes the 4-pass
    GIF row order."""
    import numpy as np

    idx = np.asarray(indexes, dtype=np.uint8)
    if idx.ndim != 2:
        raise ValueError("indexes must be (h, w)")
    h, w = idx.shape
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
        raise ValueError("palette must be (n<=256, 3) uint8 RGB")
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("palette index out of range")
    pal_bits = max(1, int(pal.shape[0] - 1).bit_length())
    padded = np.zeros((1 << pal_bits, 3), dtype=np.uint8)
    padded[: pal.shape[0]] = pal
    min_code = max(2, pal_bits)
    rows = idx
    if interlace:
        order = np.concatenate(
            [np.arange(o, h, s) for o, s in ((0, 8), (4, 8), (2, 4), (1, 2))]
        )
        rows = idx[order]
    lzw = _gif_lzw_encode(rows.tobytes(), min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes((0x80 | (7 << 4) | (pal_bits - 1), 0, 0))
    out += padded.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])
    out += bytes([min_code])
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"
    return bytes(out)


def encode_gif_animation(frames, palette, *, loop: "int | None" = 0) -> bytes:
    """Animated GIF89a writer (r13) — the round-trip counterpart of
    :func:`decode_gif_frames`. ``frames`` is a list of dicts with
    ``indexes`` ((fh, fw) uint8 palette indexes) and optional ``left``
    / ``top`` (frame rect origin), ``delay_cs`` (centiseconds),
    ``disposal`` (0 none, 1 keep, 2 restore-background, 3
    restore-previous), ``transparent`` (palette index treated as
    see-through, or None) and ``interlace``. One shared global palette;
    ``loop`` emits the Netscape application extension."""
    import numpy as np

    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
        raise ValueError("palette must be (n<=256, 3) uint8 RGB")
    pal_bits = max(1, int(pal.shape[0] - 1).bit_length())
    padded = np.zeros((1 << pal_bits, 3), dtype=np.uint8)
    padded[: pal.shape[0]] = pal
    min_code = max(2, pal_bits)

    screens = []
    for f in frames:
        idx = np.asarray(f["indexes"], dtype=np.uint8)
        screens.append((f.get("left", 0) + idx.shape[1],
                        f.get("top", 0) + idx.shape[0]))
    w = max(s[0] for s in screens)
    h = max(s[1] for s in screens)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes((0x80 | (7 << 4) | (pal_bits - 1), 0, 0))
    out += padded.tobytes()
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += struct.pack("<H", loop) + b"\x00"
    for f in frames:
        idx = np.asarray(f["indexes"], dtype=np.uint8)
        fh, fw = idx.shape
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        trans = f.get("transparent")
        gce_flags = (f.get("disposal", 0) & 0x7) << 2
        if trans is not None:
            gce_flags |= 1
        out += b"\x21\xf9\x04" + bytes([gce_flags])
        out += struct.pack("<H", f.get("delay_cs", 0))
        out += bytes([trans or 0, 0])
        rows = idx
        interlace = f.get("interlace", False)
        if interlace:
            order = np.concatenate(
                [np.arange(o, fh, s) for o, s in ((0, 8), (4, 8), (2, 4), (1, 2))]
            )
            rows = idx[order]
        out += b"\x2c" + struct.pack(
            "<HHHH", f.get("left", 0), f.get("top", 0), fw, fh
        )
        out += bytes([0x40 if interlace else 0x00])
        out += bytes([min_code])
        lzw = _gif_lzw_encode(rows.tobytes(), min_code)
        for i in range(0, len(lzw), 255):
            block = lzw[i : i + 255]
            out += bytes([len(block)]) + block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(payload: bytes, max_frames: int = 64) -> dict:
    """FULL animated-GIF decode (r13 — :func:`parse_gif` stays the
    first-frame feature tier): every frame's LZW indexes through the
    GIF89a composition model — per-frame Graphic Control Extension
    delay / transparency / disposal (none, keep, restore-to-BACKGROUND,
    restore-to-PREVIOUS), local-or-global palettes, interlacing, frame
    rects clipped to the screen. Returns ``frames`` (list of
    (screen_h, screen_w, 3) uint8 canvases, the rendered state after
    each frame, capped at ``max_frames``), ``delays_cs``, and the TRUE
    ``n_frames`` from the block walk. The canvas starts as the
    background color (transparent-start is a player concern; features
    need deterministic pixels). Raises ValueError on corrupt streams —
    Spark kernels catch per row (crawl contract)."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("GIF header truncated")
    width, height = struct.unpack("<HH", payload[6:10])
    if width == 0 or height == 0:
        raise ValueError("GIF degenerate dimensions")
    if width * height > PURE_JPEG_PIXEL_LIMIT:
        raise ValueError("GIF exceeds the pure-tier pixel cap")
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    global_pal = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x7))
        global_pal = payload[pos : pos + n]
        pos += n

    def palette_array(raw):
        if raw is None:
            raise ValueError("GIF frame without a palette")
        p = np.frombuffer(raw, dtype=np.uint8)
        return p[: 3 * (len(p) // 3)].reshape(-1, 3)

    bg_rgb = (0, 0, 0)
    if global_pal is not None:
        gp = palette_array(global_pal)
        if bg_index < len(gp):
            bg_rgb = tuple(int(v) for v in gp[bg_index])
    canvas = np.empty((height, width, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    frames, delays = [], []
    n_frames = 0
    # pending GCE state (applies to the NEXT image descriptor)
    delay_cs, transparent, disposal = 0, None, 0
    prev_disposal, prev_rect, prev_saved = 0, None, None
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:
            break
        if block == 0x21:
            label = payload[pos + 1] if pos + 1 < len(payload) else 0
            if label == 0xF9 and pos + 7 < len(payload):
                flags = payload[pos + 3]
                (delay_cs,) = struct.unpack("<H", payload[pos + 4 : pos + 6])
                transparent = payload[pos + 6] if flags & 1 else None
                disposal = (flags >> 2) & 0x7
            p = pos + 2
            while p < len(payload):
                nsub = payload[p]
                p += 1
                if nsub == 0:
                    break
                p += nsub
            pos = p
        elif block == 0x2C:
            if pos + 10 > len(payload):
                raise ValueError("GIF image descriptor truncated")
            left, top, fw, fh = struct.unpack(
                "<HHHH", payload[pos + 1 : pos + 9]
            )
            lpacked = payload[pos + 9]
            pos += 10
            pal_raw = global_pal
            if lpacked & 0x80:
                n = 3 * (2 << (lpacked & 0x7))
                pal_raw = payload[pos : pos + n]
                pos += n
            if pos >= len(payload):
                raise ValueError("GIF truncated before LZW data")
            min_code = payload[pos]
            pos += 1
            chunks = []
            while pos < len(payload):
                nsub = payload[pos]
                pos += 1
                if nsub == 0:
                    break
                chunks.append(payload[pos : pos + nsub])
                pos += nsub
            n_frames += 1
            if len(frames) >= max_frames:
                delay_cs, transparent, disposal = 0, None, 0
                continue  # keep counting, stop composing
            if not 2 <= min_code <= 11:
                raise ValueError("GIF bad LZW minimum code size")
            if fw == 0 or fh == 0 or fw * fh > PURE_JPEG_PIXEL_LIMIT:
                raise ValueError("GIF degenerate frame rect")
            idx = np.frombuffer(
                _gif_lzw_decode(b"".join(chunks), min_code, fw * fh),
                dtype=np.uint8,
            ).reshape(fh, fw)
            if lpacked & 0x40:
                order = np.concatenate(
                    [np.arange(o, fh, s)
                     for o, s in ((0, 8), (4, 8), (2, 4), (1, 2))]
                )
                deinter = np.zeros_like(idx)
                deinter[order] = idx
                idx = deinter
            pal = palette_array(pal_raw)
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("GIF palette index out of range")
            # dispose of the PREVIOUS frame's rect first
            if prev_rect is not None:
                pt, pb, pl, pr = prev_rect
                if prev_disposal == 2:
                    canvas[pt:pb, pl:pr] = bg_rgb
                elif prev_disposal == 3 and prev_saved is not None:
                    canvas[pt:pb, pl:pr] = prev_saved
            eh, ew = min(height, top + fh), min(width, left + fw)
            if eh > top and ew > left:
                rect = (top, eh, left, ew)
                saved = canvas[top:eh, left:ew].copy()
                sub = idx[: eh - top, : ew - left]
                rgb = pal[sub]
                if transparent is not None:
                    keep = sub != transparent
                    region = canvas[top:eh, left:ew]
                    region[keep] = rgb[keep]
                else:
                    canvas[top:eh, left:ew] = rgb
                prev_rect, prev_saved = rect, saved
            else:
                prev_rect, prev_saved = None, None
            prev_disposal = disposal
            frames.append(canvas.copy())
            delays.append(delay_cs)
            delay_cs, transparent, disposal = 0, None, 0
        else:
            raise ValueError("GIF unknown block id")
    if n_frames == 0:
        raise ValueError("GIF contains no frames")
    return {
        "format": "gif",
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "frames": frames,
        "delays_cs": delays,
    }


GIF_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("delay_cs", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixel_mean", T.DoubleType()),
    ]
)

GIF_FRAME_PNG_SCHEMA = T.StructType(
    list(GIF_FRAME_SCHEMA) + [T.StructField("frame_png", T.BinaryType())]
)


def extract_gif_frames(
    media: DataFrame, max_frames: int = 8, *, as_png: bool = False
) -> DataFrame:
    """mapInPandas animated-GIF frame explode (r13): one output row per
    RENDERED frame (the post-composition canvas, so disposal and
    transparency are already applied) with its delay and pixel mean —
    the real-decode sibling of :func:`sample_frames`' byte-stride
    plumbing. Non-GIF / corrupt payloads emit zero rows (the explode
    shape's crawl contract: garbage contributes nothing, never a
    throw). ``max_frames`` bounds per-row memory exactly like the
    decode cap; ``n_frames`` still reports the stream's true count.
    ``as_png=True`` (late r13) adds a ``frame_png`` column — each
    rendered canvas re-encoded as a real PNG payload, so frames feed
    straight back into the image kernels (extract_image_profile,
    attach_phash, resize_images): the same cross-modal edge as FLAC
    cover art, GIF-shaped."""
    schema = GIF_FRAME_PNG_SCHEMA if as_png else GIF_FRAME_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                if b[:6] not in (b"GIF87a", b"GIF89a"):
                    continue
                try:
                    d = decode_gif_frames(b, max_frames=max_frames)
                except Exception:
                    continue
                for k, (frame, delay) in enumerate(
                    zip(d["frames"], d["delays_cs"])
                ):
                    row = (
                        media_id, k, d["n_frames"], delay,
                        d["width"], d["height"], float(frame.mean()),
                    )
                    if as_png:
                        row += (encode_png(frame),)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return media.select("media_id", "payload").mapInPandas(batches, schema)


def parse_bmp(payload: bytes) -> dict:
    """BMP parse (r12): BITMAPINFOHEADER (and larger V4/V5) metadata,
    plus REAL pixel decode for the overwhelmingly common uncompressed
    (BI_RGB) 24/32-bpp case — rows are 4-byte aligned and stored
    bottom-up (top-down when height is negative), samples are BGR(A)
    order. Paletted/compressed variants stay metadata-only."""
    import numpy as np

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP (bad header)")
    (data_offset,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise ValueError("BMP core-header variant unsupported")
    width, height = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError("BMP degenerate dimensions")
    # paletted / 16-bpp sources expand to RGB (same convention as GIF:
    # palette entries are RGB); bit_depth below reports the source depth
    channels = 4 if bpp == 32 else 3
    meta = {
        "format": "bmp",
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": min(bpp, 8),
        "n_frames": 1,
        "pixels": None,
        "pixel_mean": None,
    }
    if width * height > PURE_JPEG_PIXEL_LIMIT:
        return meta  # same pixel cap as the other crawl tiers (an RLE
        # stream can claim enormous dims from a few bytes)

    def finish(px):
        meta["pixels"] = np.ascontiguousarray(px)
        meta["pixel_mean"] = float(px.mean())
        return meta

    if compression == 0 and bpp in (24, 32):
        stride = (width * (bpp // 8) + 3) & ~3
        need = data_offset + stride * height
        if need > len(payload):
            return meta  # truncated pixel array: metadata tier
        rows = np.frombuffer(
            payload[data_offset : data_offset + stride * height],
            dtype=np.uint8,
        ).reshape(height, stride)[:, : width * (bpp // 8)]
        px = rows.reshape(height, width, bpp // 8)
        if not top_down:
            px = px[::-1]
        # BGR(A) -> RGB(A)
        return finish(px[..., [2, 1, 0] + ([3] if bpp == 32 else [])])

    # r13: the remaining real-crawl BMP layouts decode too — paletted
    # 1/4/8-bpp, RLE8/RLE4 run-length, and 16-bpp 555/565 (BI_RGB
    # default masks or explicit BI_BITFIELDS); anything else (JPEG/PNG
    # embeddings, alpha bitfields) stays metadata-only
    if bpp in (1, 4, 8) and compression in (0, 1, 2):
        (colors_used,) = struct.unpack("<I", payload[46:50])
        ncol = colors_used or (1 << bpp)
        pal_off = 14 + hdr_size
        quads = np.frombuffer(
            payload[pal_off : pal_off + 4 * ncol], dtype=np.uint8
        )
        if len(quads) < 4 * ncol:
            return meta  # truncated palette
        pal = quads.reshape(-1, 4)[:, [2, 1, 0]]  # BGRX -> RGB
        if compression == 0:
            stride = ((width * bpp + 31) // 32) * 4
            need = data_offset + stride * height
            if need > len(payload):
                return meta
            rows = np.frombuffer(
                payload[data_offset : data_offset + stride * height],
                dtype=np.uint8,
            ).reshape(height, stride)
            if bpp == 8:
                idx = rows[:, :width]
            elif bpp == 4:
                nib = np.stack(
                    [rows >> 4, rows & 0x0F], axis=2
                ).reshape(height, -1)
                idx = nib[:, :width]
            else:
                bits = np.unpackbits(rows, axis=1)
                idx = bits[:, :width]
        else:
            if (compression == 1) != (bpp == 8):
                return meta  # RLE8 is 8-bpp, RLE4 is 4-bpp, by spec
            idx = _bmp_rle_decode(
                payload[data_offset:], width, height, rle4=(bpp == 4)
            )
            if idx is None:
                return meta
        if int(idx.max(initial=0)) >= len(pal):
            return meta  # palette index out of range
        px = pal[idx]
        if not top_down:
            px = px[::-1]
        return finish(px)

    if bpp == 16 and compression in (0, 3):
        if compression == 3:
            # masks live at byte 54 both ways: right after a 40-byte
            # BITMAPINFOHEADER, or as the RedMask... fields of V2+/V4/V5
            if len(payload) < 66:
                return meta
            rm, gm, bm = struct.unpack("<III", payload[54:66])
        else:
            rm, gm, bm = 0x7C00, 0x03E0, 0x001F  # BI_RGB 16-bpp is 555
        if not (rm and gm and bm):
            return meta
        stride = (width * 2 + 3) & ~3
        need = data_offset + stride * height
        if need > len(payload):
            return meta
        raw = np.frombuffer(
            payload[data_offset : data_offset + stride * height],
            dtype=np.uint8,
        ).reshape(height, stride)[:, : width * 2]
        v = raw.reshape(height, width, 2).astype(np.uint16)
        v = v[..., 0] | (v[..., 1] << 8)  # little-endian samples

        def chan(mask):
            shift = (mask & -mask).bit_length() - 1
            top = mask >> shift
            c = (v & mask) >> shift
            # scale to 0..255 exactly (top is 31 or 63)
            return ((c.astype(np.uint32) * 255 + top // 2) // top).astype(
                np.uint8
            )

        px = np.stack([chan(rm), chan(gm), chan(bm)], axis=-1)
        if not top_down:
            px = px[::-1]
        return finish(px)

    return meta  # exotic layout: metadata tier


def _bmp_rle_decode(data: bytes, width: int, height: int, *, rle4: bool):
    """RLE8/RLE4 index decode (r13): encoded runs, absolute runs
    (word-padded), end-of-line / end-of-bitmap / delta escapes. Rows
    are in file order (bottom-up for positive heights — the caller
    flips). Pixels never written (delta/EOL skips) stay index 0, the
    common player convention. Returns (height, width) uint8 indexes or
    None on a malformed stream."""
    import numpy as np

    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    p = 0
    n = len(data)
    while p + 1 < n:
        cnt, val = data[p], data[p + 1]
        p += 2
        if cnt > 0:
            if y >= height:
                return None
            if rle4:
                pix = [val >> 4, val & 0x0F] * ((cnt + 1) // 2)
                pix = pix[:cnt]
            else:
                pix = [val] * cnt
            end = min(x + cnt, width)
            out[y, x:end] = pix[: end - x]
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if p + 1 >= n:
                return None
            x += data[p]
            y += data[p + 1]
            p += 2
        else:  # absolute run of `val` pixels, word-aligned
            if rle4:
                nbytes = (val + 1) // 2
            else:
                nbytes = val
            pad = (nbytes + 1) & ~1
            if p + pad > n or y >= height:
                return None
            chunk = data[p : p + nbytes]
            if rle4:
                pix = []
                for b in chunk:
                    pix += [b >> 4, b & 0x0F]
                pix = pix[:val]
            else:
                pix = list(chunk)
            end = min(x + val, width)
            out[y, x:end] = pix[: end - x]
            x += val
            p += pad
    return out  # stream ended without EOD: keep what decoded


def encode_bmp(pixels, *, top_down: bool = False) -> bytes:
    """Minimal BI_RGB BMP writer — the fixture counterpart of
    :func:`parse_bmp` (r12). ``pixels`` is (h, w, 3) RGB or (h, w, 4)
    RGBA uint8; rows pad to 4 bytes, bottom-up unless ``top_down``."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] not in (3, 4):
        raise ValueError("pixels must be (h, w, 3|4)")
    h, w, ch = px.shape
    bgr = px[..., [2, 1, 0] + ([3] if ch == 4 else [])]
    if not top_down:
        bgr = bgr[::-1]
    stride = (w * ch + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * ch] = bgr.reshape(h, w * ch)
    data = rows.tobytes()
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, ch * 8, 0,
        len(data), 2835, 2835, 0, 0,
    )
    off = 14 + len(dib)
    head = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    return head + dib + data


def encode_bmp_paletted(
    indexes,
    palette,
    *,
    bpp: int = 8,
    rle: bool = False,
    top_down: bool = False,
) -> bytes:
    """Paletted BMP writer (r13) — fixture counterpart of
    :func:`parse_bmp`'s paletted tiers. ``indexes`` (h, w) uint8,
    ``palette`` (n, 3) RGB; ``bpp`` 1/4/8; ``rle`` emits RLE8 encoded
    runs (8-bpp only) with per-row EOL and a final EOD escape."""
    import numpy as np

    idx = np.asarray(indexes, dtype=np.uint8)
    h, w = idx.shape
    pal = np.asarray(palette, dtype=np.uint8)
    ncol = pal.shape[0]
    if int(idx.max(initial=0)) >= ncol or ncol > (1 << bpp):
        raise ValueError("palette index out of range")
    quads = np.zeros((ncol, 4), dtype=np.uint8)
    quads[:, [2, 1, 0]] = pal
    rows_fileorder = idx if top_down else idx[::-1]
    if rle:
        if bpp != 8:
            raise ValueError("RLE fixture supports 8-bpp only")
        body = bytearray()
        for row in rows_fileorder:
            x = 0
            while x < w:
                run = 1
                while x + run < w and row[x + run] == row[x] and run < 255:
                    run += 1
                body += bytes((run, int(row[x])))
                x += run
            body += b"\x00\x00"  # end of line
        body += b"\x00\x01"  # end of bitmap
        data = bytes(body)
        compression = 1
    else:
        stride = ((w * bpp + 31) // 32) * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        if bpp == 8:
            rows[:, :w] = rows_fileorder
        elif bpp == 4:
            padded = np.zeros((h, (w + 1) & ~1), dtype=np.uint8)
            padded[:, :w] = rows_fileorder
            packed = (padded[:, 0::2] << 4) | padded[:, 1::2]
            rows[:, : packed.shape[1]] = packed
        elif bpp == 1:
            padded = np.zeros((h, ((w + 7) & ~7)), dtype=np.uint8)
            padded[:, :w] = rows_fileorder
            packed = np.packbits(padded, axis=1)
            rows[:, : packed.shape[1]] = packed
        else:
            raise ValueError("bpp must be 1, 4 or 8")
        data = rows.tobytes()
        compression = 0
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, compression,
        len(data), 2835, 2835, ncol, 0,
    )
    off = 14 + len(dib) + 4 * ncol
    head = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    return head + dib + quads.tobytes() + data


def encode_bmp16(pixels, *, bits: str = "555", top_down: bool = False) -> bytes:
    """16-bpp BMP writer (r13): '555' uses BI_RGB's implied masks,
    '565' emits explicit BI_BITFIELDS masks. Channel values quantize
    by truncation (>> 3 / >> 2); parse_bmp scales back with rounding."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    r, g, b = (px[..., i].astype(np.uint16) for i in range(3))
    if bits == "555":
        v = ((r >> 3) << 10) | ((g >> 3) << 5) | (b >> 3)
        compression, masks = 0, b""
    elif bits == "565":
        v = ((r >> 3) << 11) | ((g >> 2) << 5) | (b >> 3)
        compression = 3
        masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    else:
        raise ValueError("bits must be '555' or '565'")
    if not top_down:
        v = v[::-1]
    stride = (w * 2 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    lo, hi = (v & 0xFF).astype(np.uint8), (v >> 8).astype(np.uint8)
    rows[:, 0 : w * 2 : 2] = lo
    rows[:, 1 : w * 2 : 2] = hi
    data = rows.tobytes()
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 16, compression,
        len(data), 2835, 2835, 0, 0,
    )
    off = 14 + len(dib) + len(masks)
    head = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    return head + dib + masks + data


def parse_webp(payload: bytes) -> dict:
    """WebP metadata parse (r12): dims from any of the three container
    layouts — lossy ``VP8 `` (keyframe start code + 14-bit dims), lossless
    ``VP8L`` (1+14+14 bit-packed dims, alpha bit), extended ``VP8X``
    (24-bit dims-minus-one, alpha flag). Pixels stay metadata-tier (the
    VP8 entropy decoder is a codebook codec, not a header walk)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP (bad RIFF/WEBP header)")
    tag = payload[12:16]
    body = payload[20:]
    if tag == b"VP8 " and len(body) >= 10:
        if body[3:6] != b"\x9d\x01\x2a":
            raise ValueError("WebP VP8 missing keyframe start code")
        width = struct.unpack("<H", body[6:8])[0] & 0x3FFF
        height = struct.unpack("<H", body[8:10])[0] & 0x3FFF
        channels = 3
    elif tag == b"VP8L" and len(body) >= 5:
        if body[0] != 0x2F:
            raise ValueError("WebP VP8L bad signature byte")
        bits = struct.unpack("<I", body[1:5])[0]
        width = (bits & 0x3FFF) + 1
        height = ((bits >> 14) & 0x3FFF) + 1
        channels = 4 if (bits >> 28) & 1 else 3
    elif tag == b"VP8X" and len(body) >= 10:
        width = int.from_bytes(body[4:7], "little") + 1
        height = int.from_bytes(body[7:10], "little") + 1
        channels = 4 if body[0] & 0x10 else 3
    else:
        raise ValueError("WebP unknown chunk layout")
    if width == 0 or height == 0:
        raise ValueError("WebP degenerate dimensions")
    return {
        "format": "webp",
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": 8,
        "n_frames": 1,
        "pixels": None,
        "pixel_mean": None,
    }


def decode_image(payload: bytes):
    """Decode an image payload.

    PNG decodes for REAL in pure Python at every legal depth/layout
    (r9 base, r10 indexed/PLTE, r12 16-bit / 1-2-4-bit / Adam7
    interlaced — see :func:`parse_png`): (h, w, c) uint8, or uint16 for
    16-bit sources. Baseline-sequential JPEG decodes for real too
    (r11), and r12 adds PROGRESSIVE (SOF2) — see
    :func:`decode_jpeg_pixels`, and r13 adds 12-bit SOF1/SOF2 (T.81
    B.2.2 forbids 12-bit SOF0); uncompressed 24/32-bpp BMP via
    :func:`parse_bmp`. Arithmetic-coded JPEG and anything else falls
    through to PIL when importable; otherwise NotImplementedError
    (metadata for those tiers is still available via :func:`parse_jpeg`
    / :func:`parse_gif` / :func:`parse_webp`).
    """
    if payload[:8] == _PNG_SIG:
        meta = parse_png(payload)
        if meta["pixels"] is not None:
            return meta["pixels"]
    if payload[:2] == b"BM":
        meta = parse_bmp(payload)
        if meta["pixels"] is not None:
            return meta["pixels"]
    if payload[:3] == b"\xff\xd8\xff":
        try:
            import PIL  # noqa: F401 — libjpeg is ~100x the pure tier
        except ImportError:
            try:
                return decode_jpeg_pixels(payload)
            except (ValueError, struct.error, IndexError):
                pass  # arithmetic/12-bit/truncated: fall to the PIL gate
    try:
        import io

        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "arithmetic-JPEG / exotic-layout pixel decode "
            "requires PIL/pillow, not available in this environment; "
            "parse_png/parse_jpeg provide metadata and "
            "extract_media_features byte-level features"
        ) from e
    return Image.open(io.BytesIO(payload))


def _parse_any_image(b: bytes) -> "dict | None":
    """Signature-dispatch image parse shared by the meta kernel and the
    one-pass profile kernel: the format's parse_* (with decoded pixels
    where the pure tier covers it), or None under the crawl-garbage
    contract — a valid signature with corrupt innards raises whatever
    the codec hit (zlib.error on a bad IDAT, struct.error on a
    truncated header — advisor probe, r10); ANY decode failure means
    NULL columns, never a thrown stage."""
    try:
        if b[:8] == _PNG_SIG:
            return parse_png(b, max_pixels=PNG_CRAWL_PIXEL_LIMIT)
        if b[:3] == b"\xff\xd8\xff":
            return parse_jpeg(b)
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return parse_gif(b)
        if b[:2] == b"BM":
            return parse_bmp(b)
        if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
            return parse_webp(b)
        return None
    except Exception:
        return None


def _byte_features(b: bytes) -> tuple:
    """Deterministic byte-level features (entropy / rolling head hash /
    16-dim normalized histogram embedding) shared by
    :func:`extract_media_features` and the one-pass profile kernel."""
    import numpy as np

    n = len(b)
    if not n:
        return 0, 0.0, 0, [0.0] * 16
    arr = np.frombuffer(b, dtype=np.uint8)
    hist = np.bincount(arr, minlength=256).astype(np.float64)
    p = hist / n
    nz = p[p > 0]
    entropy = float(-(nz * np.log2(nz)).sum())
    head = 0
    for x in b[:64]:
        head = (head * 31 + x) % 1_000_000_007
    vec16 = hist.reshape(16, 16).sum(axis=1)
    denom = float(np.linalg.norm(vec16)) or 1.0
    return n, entropy, head, (vec16 / denom).tolist()


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),  # r12: GIFs animate
        # late r12, from JPEG EXIF (NULL elsewhere): orientation to
        # interpret dims on phone-camera crawls; GPS PRESENCE as the
        # PII curation signal (coordinates deliberately not extracted)
        T.StructField("orientation", T.IntegerType()),
        T.StructField("has_gps", T.BooleanType()),
        T.StructField("pixel_mean", T.DoubleType()),
    ]
)


def extract_image_meta(media: DataFrame) -> DataFrame:
    """mapInPandas image decode over payload batches: PNG → full decode
    (dims + channels + true pixel mean), JPEG → full decode for baseline
    sequential (r11) AND progressive SOF2 (r12, :func:`decode_jpeg_pixels`)
    / header metadata for arithmetic+exotic tiers, BMP → full decode for
    uncompressed 24/32-bpp (r12, :func:`parse_bmp`), GIF → first-frame
    LZW pixel decode plus a real frame count from the block walk (late
    r12), WebP → metadata across all three container layouts, other / corrupt payloads → NULL columns (a
    100 TB crawl always contains garbage bytes; a decode kernel that
    throws on them kills the stage). Same Arrow-batched shape as
    :func:`extract_media_features`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                m = _parse_any_image(b)
                if m is None:
                    rows.append((media_id,) + (None,) * 9)
                else:
                    rows.append(
                        (
                            media_id,
                            m["format"],
                            m["width"],
                            m["height"],
                            m["channels"],
                            m["bit_depth"],
                            m.get("n_frames", 1),
                            m.get("orientation"),
                            m.get("has_gps"),
                            m["pixel_mean"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "width", "height", "channels",
                    "bit_depth", "n_frames", "orientation", "has_gps",
                    "pixel_mean",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, IMAGE_META_SCHEMA
    )


# (encoding -> (format code, bit depth, numpy dtype)); pcm24 packs by hand
_WAV_ENCODINGS = {
    "pcm8": (1, 8, "u1"),
    "pcm16": (1, 16, "<i2"),
    "pcm24": (1, 24, None),
    "pcm32": (1, 32, "<i4"),
    "float32": (3, 32, "<f4"),
    "float64": (3, 64, "<f8"),
    # r13: G.711 fixtures carry RAW 8-bit code streams (the caller
    # supplies codes, parse_wav expands them through _g711_table)
    "alaw": (6, 8, "u1"),
    "ulaw": (7, 8, "u1"),
}


def encode_wav(
    samples,
    sample_rate: int = 8000,
    *,
    encoding: str = "pcm16",
    extensible: bool = False,
) -> bytes:
    """Minimal, spec-correct RIFF/WAVE writer (the fixture / round-trip
    counterpart of :func:`parse_wav` — no audio library in this
    container). ``samples`` is a numpy array, (n,) mono or (n, ch)
    interleaved on write; dtype follows ``encoding``: int16 for pcm16
    (the default — unchanged from r9), uint8 for pcm8 (unsigned,
    midpoint 128, per RIFF), int32 within ±2^23 for pcm24 (packed to
    3-byte little-endian frames), int32 for pcm32, float for
    float32/float64 (format code 3). ``extensible`` wraps the format in
    a WAVE_FORMAT_EXTENSIBLE (0xFFFE) header with the matching SubFormat
    GUID — the shape Windows encoders emit for >2 channels or >16
    bits (r12)."""
    import numpy as np

    try:
        code, depth, dtype = _WAV_ENCODINGS[encoding]
    except KeyError:
        raise ValueError(f"unknown encoding {encoding!r}")
    if encoding == "pcm24":
        s = np.asarray(samples, dtype=np.int32)
    else:
        s = np.asarray(samples, dtype=dtype)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if encoding == "pcm24":
        if n and int(np.abs(s).max()) >= 1 << 23:
            raise ValueError("pcm24 samples must fit 24 bits")
        u = s.reshape(-1).astype("<i4").view("u1").reshape(-1, 4)
        data = u[:, :3].tobytes()  # little-endian: low 3 bytes
    else:
        data = s.reshape(-1).tobytes()  # C-order == interleaved frames
    block = ch * depth // 8
    byte_rate = sample_rate * block
    base = struct.pack(
        "<HHIIHH",
        0xFFFE if extensible else code,
        ch,
        sample_rate,
        byte_rate,
        block,
        depth,
    )
    if extensible:
        # KSDATAFORMAT_SUBTYPE_{PCM,IEEE_FLOAT}: xxxxxxxx-0000-0010-
        # 8000-00AA00389B71 with Data1 = the plain format code
        guid = struct.pack("<IHH", code, 0x0000, 0x0010) + bytes.fromhex(
            "800000aa00389b71"
        )
        base += struct.pack("<HHI", 22, depth, (1 << ch) - 1) + guid
    fmt = base
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


_G711_TABLES: dict = {}


def _g711_table(law: str):
    """256-entry G.711 expansion table (r13), built from the standard
    segment/mantissa decode: mu-law complements the code, rebuilds
    mantissa<<3 + 0x84 bias shifted by the segment, sign bit NEGATIVE
    when set; A-law xors 0x55, segment 0 is linear (step 8), higher
    segments shift (mantissa<<4 + 0x108), sign bit POSITIVE when set.
    int16 outputs, same scale every G.711 codec uses."""
    import numpy as np

    if law in _G711_TABLES:
        return _G711_TABLES[law]
    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        if law == "ulaw":
            u = ~code & 0xFF
            t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x7)
            out[code] = (0x84 - t) if u & 0x80 else (t - 0x84)
        else:
            a = code ^ 0x55
            seg = (a >> 4) & 0x7
            t = (a & 0x0F) << 4
            if seg == 0:
                t += 8
            else:
                t = (t + 0x108) << (seg - 1)
            out[code] = t if a & 0x80 else -t
    _G711_TABLES[law] = out
    return out


def parse_wav(payload: bytes) -> dict:
    """Pure-Python WAV decode: RIFF chunk walk (word-aligned per the
    spec — odd-length chunks carry a pad byte), fmt metadata always;
    decoded (n_frames, ch) sample arrays plus RMS / peak (the stats an
    audio curation pipeline filters on) for every integer-PCM depth and
    IEEE float (r12 — r9 decoded PCM16 only): PCM 8 (unsigned,
    midpoint 128 — centered to int16 so silence is 0 like every other
    tier), 16, 24 (3-byte frames unpacked to int32), 32, and float32/64
    (format code 3; float RMS/peak stay float). A WAVE_FORMAT_EXTENSIBLE
    (0xFFFE) header is unwrapped to its SubFormat code first — the shape
    Windows encoders emit for >2 channels or >16 bits. Returns
    ``{format, channels, sample_rate, bit_depth, n_frames, duration_sec,
    samples, rms, peak}`` — sample-tier fields are None for compressed
    encodings (ADPCM, mu-law, …) and degenerate headers, mirroring
    :func:`parse_png`'s metadata-only tier."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV (bad RIFF/WAVE header)")
    pos = 12
    audio_format = channels = sample_rate = bit_depth = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAV fmt chunk truncated")
            audio_format, channels, sample_rate, _, _, bit_depth = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_format == 0xFFFE and len(body) >= 26:
                # EXTENSIBLE: the real code is the SubFormat GUID's Data1
                (audio_format,) = struct.unpack("<H", body[24:26])
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if audio_format is None:
        raise ValueError("WAV missing fmt chunk")
    meta = {
        "format": "wav",
        "channels": channels,
        "sample_rate": sample_rate,
        "bit_depth": bit_depth,
        "n_frames": None,
        "duration_sec": None,
        "samples": None,
        "rms": None,
        "peak": None,
    }
    if data is None:
        return meta
    # degenerate fmt guards (r10, advisor probe): channels=0 / bit_depth=0
    # give frame_bytes=0 (division by zero at n_frames), sample_rate=0
    # divides by zero at duration — all legal-looking garbage a crawl
    # contains, all resolved to the metadata-only tier, never a throw
    frame_bytes = channels * (bit_depth // 8)
    if frame_bytes and sample_rate:
        meta["n_frames"] = len(data) // frame_bytes
        meta["duration_sec"] = meta["n_frames"] / sample_rate
    n = meta["n_frames"]
    if n is None:
        return meta
    raw = data[: n * frame_bytes]
    is_float = audio_format == 3 and bit_depth in (32, 64)
    if audio_format == 1 and bit_depth == 8:
        s = raw_u8 = np.frombuffer(raw, dtype=np.uint8)
        s = (raw_u8.astype(np.int16) - 128).reshape(n, channels)
    elif audio_format == 1 and bit_depth == 16:
        s = np.frombuffer(raw, dtype="<i2").reshape(n, channels)
    elif audio_format == 1 and bit_depth == 24:
        u = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        s = (
            u[:, 0].astype(np.int32)
            | (u[:, 1].astype(np.int32) << 8)
            | (u[:, 2].view(np.int8).astype(np.int32) << 16)
        ).reshape(n, channels)
    elif audio_format == 1 and bit_depth == 32:
        s = np.frombuffer(raw, dtype="<i4").reshape(n, channels)
    elif is_float:
        s = np.frombuffer(
            raw, dtype="<f4" if bit_depth == 32 else "<f8"
        ).reshape(n, channels)
    elif audio_format in (6, 7) and bit_depth == 8:
        # r13: G.711 A-law (6) / mu-law (7) — the telephony crawl tier;
        # 8-bit codes expand through the 256-entry table built from the
        # standard segment/mantissa formulas (test-pinned against an
        # independent per-code transcription of the G.711 expansion)
        table = _g711_table("alaw" if audio_format == 6 else "ulaw")
        s = table[np.frombuffer(raw, dtype=np.uint8)].reshape(n, channels)
    else:
        return meta  # compressed / exotic: metadata-only tier
    meta["samples"] = s
    if s.size:
        meta["rms"] = float(np.sqrt((s.astype(np.float64) ** 2).mean()))
        peak = np.abs(s.astype(np.float64)).max()
        meta["peak"] = float(peak) if is_float else int(peak)
    return meta


# MPEG audio (ISO/IEC 11172-3 / 13818-3) frame-header tables: bitrate
# kbps by [version-class][layer][index] and sample rate by version.
_MP3_BITRATES = {
    # MPEG-1: layer 1 / 2 / 3
    1: {
        1: (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
        2: (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
        3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    },
    # MPEG-2 / 2.5 (lower-rate extensions share tables)
    2: {
        1: (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
        2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
        3: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    },
}
_MP3_RATES = {
    "1": (44100, 48000, 32000),
    "2": (22050, 24000, 16000),
    "2.5": (11025, 12000, 8000),
}

# bounded resync (r12): after a broken frame, scan at most this many
# bytes for the next shape-consistent sync word. 64 KiB spans any real
# junk run (an APEv2 tag, a glitched frame, an embedded image fragment)
# while keeping the worst case linear for a payload that is ALL junk.
_MP3_RESYNC_WINDOW = 1 << 16


def _l3_sideinfo(payload: bytes, p: int, nch: int, protected: bool):
    """MPEG-1 Layer III SIDE INFO for the frame at ``p`` (r14):
    ``(global_gains, short_flags)`` over the frame's (granule, channel)
    cells. The side-info bit layout (ISO 11172-3 §2.4.1.7) is pure
    closed-form structure — main_data_begin(9), private(5/3),
    scfsi(4/ch), then per cell part2_3_length(12) big_values(9)
    global_gain(8) scalefac_compress(4) and the 22-bit window-switching
    or normal region block — no Huffman tables are needed to READ it,
    so loudness (global_gain) and transient-density (short-block)
    signals are available without the sample decoder. 136 bits mono /
    256 stereo, matching the Xing-offset constants used since r12."""
    from .flac import _BitReader

    r = _BitReader(payload, p + 4 + (2 if protected else 0))
    r.read(9)                       # main_data_begin
    r.read(5 if nch == 1 else 3)    # private bits
    for _ in range(nch):
        r.read(4)                   # scfsi
    gains, shorts = [], []
    for _gr in range(2):
        for _ch in range(nch):
            r.read(12)              # part2_3_length
            r.read(9)               # big_values
            gains.append(r.read(8))  # global_gain
            r.read(4)               # scalefac_compress
            if r.read(1):           # window_switching_flag
                shorts.append(r.read(2) == 2)  # block_type 2 = short
                r.read(1)           # mixed_block_flag
                r.read(10)          # 2 x table_select(5)
                r.read(9)           # 3 x subblock_gain(3)
            else:
                shorts.append(False)
                r.read(15)          # 3 x table_select(5)
                r.read(7)           # region0_count(4) + region1_count(3)
            r.read(3)               # preflag, scalefac_scale, count1table
    return gains, shorts


def parse_mp3(payload: bytes) -> dict:
    """MPEG-audio (MP3 and Layer I/II siblings) FRAME-HEADER parse: skip
    an ID3v2 tag if present, then walk the frame sequence — each 4-byte
    header carries version / layer / bitrate index / sample rate index /
    padding / channel mode, and the frame length formula
    (``samples_per_frame/8 × bitrate / sample_rate + padding``) jumps to
    the next header — summing exact per-frame durations (r11: the
    compressed-audio analog of the pre-r11 JPEG tier: metadata a
    curation pipeline filters on — duration, rate, channels, mean
    bitrate, VBR flag — without reimplementing the subband/MDCT decoder;
    PCM sample recovery stays the documented import-gated boundary, so
    ``samples``/``rms``/``peak`` are always None here).

    Returns ``{format, version, layer, channels, sample_rate, bit_depth
    (None), n_frames, duration_sec, bitrate_kbps (mean), vbr, samples,
    rms, peak}``. Raises ValueError when no valid frame exists;
    free-format frames (bitrate index 0) end the walk (their length is
    undefined without decoding).

    Crawl-dirty hardening (r12, the r11 verdict's #3): an ID3v2.4 tag
    with the FOOTER flag (header byte 5 bit 4) is followed by a 10-byte
    ``3DI`` footer the size field does not cover — skip it; a VBR
    file's Xing/Info (and Fraunhofer VBRI) header frame is excluded
    from the audio frame count, its frame-count field (when present)
    supplies the duration, and ``Xing``/``VBRI`` set the ``vbr`` flag
    even when the walked frames happen to share one bitrate; mid-stream
    junk triggers a BOUNDED resync scan (:data:`_MP3_RESYNC_WINDOW`
    bytes) for the next shape-consistent, double-checked sync word
    instead of silently truncating at the junk. A trailing ID3v1
    ``TAG`` block is excluded from the walk so its bytes can't alias a
    sync word."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:  # syncsafe 7-bit bytes
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
        if payload[5] & 0x10:
            pos += 10  # ID3v2.4 footer: 10-byte '3DI' block after the tag
    end = len(payload)
    if end - pos >= 128 and payload[end - 128 : end - 125] == b"TAG":
        end -= 128  # ID3v1 tail is metadata, not frame data

    def try_frame(p: int):
        """Validated frame header at ``p`` → ``(ver, lay, br, sr, mode,
        samples, frame_len)``, or None (bad sync / reserved fields /
        free-format / length overruns the payload)."""
        if p + 4 > end:
            return None
        h = payload[p : p + 4]
        if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
            return None
        ver_bits = (h[1] >> 3) & 0x3
        layer_bits = (h[1] >> 1) & 0x3
        if ver_bits == 1 or layer_bits == 0:
            return None  # reserved version/layer
        ver = {0: "2.5", 2: "2", 3: "1"}[ver_bits]
        lay = 4 - layer_bits  # 11->Layer I, 10->II, 01->III
        br_idx = (h[2] >> 4) & 0xF
        sr_idx = (h[2] >> 2) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            return None  # free-format / invalid
        pad = (h[2] >> 1) & 0x1
        mode = (h[3] >> 6) & 0x3
        br = _MP3_BITRATES[1 if ver == "1" else 2][lay][br_idx] * 1000
        sr = _MP3_RATES[ver][sr_idx]
        if lay == 1:
            samples, frame_len = 384, (12 * br // sr + pad) * 4
        elif lay == 2:
            samples, frame_len = 1152, 144 * br // sr + pad
        else:  # Layer III: MPEG-2/2.5 frames halve to 576 samples
            samples = 1152 if ver == "1" else 576
            frame_len = samples // 8 * br // sr + pad
        if frame_len <= 4 or p + frame_len > end:
            return None  # truncated final frame: don't count it
        return ver, lay, br, sr, mode, samples, frame_len

    def vbr_header(p: int, fr) -> tuple | None:
        """``(tag, frame_count|None)`` when the Layer III frame at ``p``
        is a Xing/Info/VBRI header frame, else None. Xing/Info sit right
        after the side info (MPEG-1: 32 B stereo / 17 B mono; MPEG-2/2.5:
        17/9); the frame-count field rides when flags bit 0 is set. VBRI
        sits at a fixed 32 bytes past the header, frames at +14."""
        ver, lay, _, _, mode, _, _ = fr
        if lay != 3:
            return None
        if ver == "1":
            side = 17 if mode == 3 else 32
        else:
            side = 9 if mode == 3 else 17
        q = p + 4 + side
        tag = payload[q : q + 4]
        if tag in (b"Xing", b"Info"):
            frames = None
            if q + 8 <= end:
                flags = int.from_bytes(payload[q + 4 : q + 8], "big")
                if flags & 0x1 and q + 12 <= end:
                    frames = int.from_bytes(payload[q + 8 : q + 12], "big")
            return ("xing" if tag == b"Xing" else "info", frames)
        q = p + 4 + 32
        if payload[q : q + 4] == b"VBRI":
            frames = None
            if q + 18 <= end:
                frames = int.from_bytes(payload[q + 14 : q + 18], "big")
            return ("vbri", frames)
        return None

    n_frames = 0
    duration = 0.0
    bitrate_sum = 0
    bitrates = set()
    version = layer = channels = sample_rate = None
    spf = None  # samples per frame (constant across a consistent stream)
    vbr_tag: str | None = None
    vbr_frames = None
    l3_gain_sum = l3_granules = l3_short = 0

    def resync(p: int) -> int | None:
        """Bounded forward scan for the next plausible frame start: the
        candidate must validate, match the established stream shape, and
        be FOLLOWED by another sync word (or end the payload) — the
        double-check rejects the spurious 0xFFEx bytes junk contains."""
        limit = min(end - 4, p + _MP3_RESYNC_WINDOW)
        q = payload.find(b"\xff", p, limit + 1)
        while q != -1:
            fr = try_frame(q)
            if fr is not None and (
                n_frames == 0
                or (fr[0], fr[1], fr[3]) == (version, layer, sample_rate)
            ):
                nxt = q + fr[6]
                if nxt + 2 > end or (
                    payload[nxt] == 0xFF and (payload[nxt + 1] & 0xE0) == 0xE0
                ):
                    return q
            q = payload.find(b"\xff", q + 1, limit + 1)
        return None

    while pos + 4 <= end:
        fr = try_frame(pos)
        if fr is not None and n_frames > 0 and (
            (fr[0], fr[1], fr[3]) != (version, layer, sample_rate)
        ):
            fr = None  # stream changed shape mid-walk: junk, try resync
        if fr is None:
            nxt = resync(pos + 1)
            if nxt is None:
                break  # no shape-consistent sync within the window: stop
            pos = nxt
            continue
        ver, lay, br, sr, mode, samples, frame_len = fr
        if n_frames == 0:
            version, layer = ver, lay
            channels = 1 if mode == 3 else 2
            sample_rate = sr
            spf = samples
            if vbr_tag is None:
                vh = vbr_header(pos, fr)
                if vh is not None:
                    vbr_tag, vbr_frames = vh
                    pos += frame_len  # header frame: not audio, don't count
                    continue
        n_frames += 1
        duration += samples / sr
        bitrate_sum += br
        bitrates.add(br)
        if lay == 3 and ver == "1":
            # r14: side-info stats on MPEG-1 Layer III audio frames
            # (header/VBR frames were skipped above). Auxiliary — a
            # malformed side region keeps the frame-walk metadata.
            try:
                g, s = _l3_sideinfo(
                    payload, pos, 1 if mode == 3 else 2,
                    not (payload[pos + 1] & 1),
                )
                l3_gain_sum += sum(g)
                l3_granules += len(g)
                l3_short += sum(s)
            except Exception:
                pass
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no valid MPEG audio frame")
    if vbr_frames:
        # the encoder's own frame count is exact even when the walk lost
        # frames to mid-stream junk; the walked count stays in n_frames
        duration = vbr_frames * spf / sample_rate
    return {
        "format": "mp3",
        "version": version,
        "layer": layer,
        "channels": channels,
        "sample_rate": sample_rate,
        "bit_depth": None,
        "n_frames": n_frames,
        "duration_sec": duration,
        "bitrate_kbps": round(bitrate_sum / n_frames / 1000, 3),
        "vbr": len(bitrates) > 1 or vbr_tag in ("xing", "vbri"),
        "samples": None,
        "rms": None,
        "peak": None,
        # r14 Layer III side-info stats (MPEG-1 audio frames only):
        # mean global_gain (loudness proxy) and short-block share
        # (transient density) over all (granule, channel) cells
        "l3_gain_mean": (
            l3_gain_sum / l3_granules if l3_granules else None
        ),
        "l3_short_share": (
            l3_short / l3_granules if l3_granules else None
        ),
    }


def encode_mp3_frames(
    n_frames: int,
    *,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    channels: int = 2,
    version: str = "1",
    layer: int = 3,
    id3_bytes: int = 0,
    id3_footer: bool = False,
    vbr_tag: str | None = None,
    vbr_frame_count: int | None = None,
    global_gain: int | None = None,
    short_blocks: "tuple[bool, bool] | None" = None,
) -> bytes:
    """Header-valid MPEG-audio fixture stream: ``n_frames`` frames with
    correct 4-byte headers and zeroed payloads (the parser never reads
    payload bits), optionally preceded by an ID3v2 tag of
    ``id3_bytes``. The test counterpart of :func:`parse_mp3` — nothing
    here produces decodable audio.

    r12 crawl-shape knobs: ``id3_footer`` sets the ID3v2.4 footer flag
    and appends the 10-byte ``3DI`` footer (the size field, per spec,
    covers neither header nor footer); ``vbr_tag`` ("xing" / "info" /
    "vbri") prepends one HEADER frame carrying that tag at its correct
    offset — with the frame-count field when ``vbr_frame_count`` is
    given — which parse_mp3 must exclude from the audio frame count.

    r14: ``global_gain`` / ``short_blocks`` (per-granule flags, applied
    to every channel) write a REAL MPEG-1 Layer III side-info region
    into each audio frame — the :func:`_l3_sideinfo` counterpart, so
    gain/short-block stats have closed forms for the oracle tier."""
    vclass = 1 if version == "1" else 2
    br_idx = _MP3_BITRATES[vclass][layer].index(bitrate_kbps)
    sr_idx = _MP3_RATES[version].index(sample_rate)
    ver_bits = {"1": 3, "2": 2, "2.5": 0}[version]
    layer_bits = 4 - layer
    h1 = 0xE0 | (ver_bits << 3) | (layer_bits << 1) | 1  # no CRC
    h2 = (br_idx << 4) | (sr_idx << 2)  # no padding
    h3 = (0x3 if channels == 1 else 0x0) << 6
    br, sr = bitrate_kbps * 1000, sample_rate
    if layer == 1:
        frame_len = (12 * br // sr) * 4
    elif layer == 2:
        frame_len = 144 * br // sr
    else:
        frame_len = (1152 if version == "1" else 576) // 8 * br // sr
    side = b""
    if layer == 3 and version == "1" and (
        global_gain is not None or short_blocks is not None
    ):
        from .flac import _BitWriter

        nch = 1 if channels == 1 else 2
        w = _BitWriter()
        w.write(0, 9)                       # main_data_begin
        w.write(0, 5 if nch == 1 else 3)    # private bits
        for _ in range(nch):
            w.write(0, 4)                   # scfsi
        g = int(global_gain or 0)
        if not 0 <= g <= 255:
            raise ValueError("global_gain is 0..255")
        sbl = short_blocks or (False, False)
        for gr in range(2):
            for _ch in range(nch):
                w.write(0, 12)              # part2_3_length
                w.write(0, 9)               # big_values
                w.write(g, 8)               # global_gain
                w.write(0, 4)               # scalefac_compress
                if sbl[gr]:
                    w.write(1, 1)           # window_switching_flag
                    w.write(2, 2)           # block_type: short
                    w.write(0, 1)           # mixed_block_flag
                    w.write(0, 10)          # 2 x table_select
                    w.write(0, 9)           # 3 x subblock_gain
                else:
                    w.write(0, 1)
                    w.write(0, 15)          # 3 x table_select
                    w.write(0, 7)           # region counts
                w.write(0, 3)               # pre/scale/count1
        w.align()                           # 136 / 256 bits: byte-exact
        side = w.bytes()
    frame = bytes((0xFF, h1, h2, h3)) + side + b"\x00" * (
        frame_len - 4 - len(side)
    )
    header_frame = b""
    if vbr_tag is not None:
        buf = bytearray(frame)
        if vbr_tag in ("xing", "info"):
            # Xing/Info rides right after the Layer III side info
            if version == "1":
                side = 17 if channels == 1 else 32
            else:
                side = 9 if channels == 1 else 17
            q = 4 + side
            buf[q : q + 4] = b"Xing" if vbr_tag == "xing" else b"Info"
            if vbr_frame_count is not None:
                buf[q + 4 : q + 8] = (1).to_bytes(4, "big")  # FRAMES flag
                buf[q + 8 : q + 12] = int(vbr_frame_count).to_bytes(4, "big")
        elif vbr_tag == "vbri":
            q = 4 + 32
            buf[q : q + 4] = b"VBRI"
            if vbr_frame_count is not None:
                buf[q + 14 : q + 18] = int(vbr_frame_count).to_bytes(4, "big")
        else:
            raise ValueError(f"unknown vbr_tag {vbr_tag!r}")
        header_frame = bytes(buf)
    id3 = b""
    if id3_bytes or id3_footer:
        body = b"\x00" * id3_bytes
        size = id3_bytes
        ss = bytes(((size >> 21) & 0x7F, (size >> 14) & 0x7F,
                    (size >> 7) & 0x7F, size & 0x7F))
        flags = 0x10 if id3_footer else 0x00
        id3 = b"ID3\x04\x00" + bytes((flags,)) + ss + body
        if id3_footer:
            id3 += b"3DI\x04\x00" + bytes((flags,)) + ss
    return id3 + header_frame + frame * n_frames


def encode_gif_skeleton(
    width: int, height: int, n_frames: int = 1, pal_bits: int = 1
) -> bytes:
    """Structure-valid GIF89a fixture (r12): global palette, per frame a
    graphic-control extension + image descriptor + fake LZW sub-blocks —
    the test counterpart of :func:`parse_gif`'s block walk; nothing here
    produces decodable pixels (same contract as
    :func:`encode_mp3_frames`)."""
    packed = 0x80 | (7 << 4) | (pal_bits - 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height) + bytes((packed, 0, 0))
    out += b"\x00" * (3 * (2 << (pal_bits - 1)))
    for _ in range(n_frames):
        out += b"\x21\xf9\x04" + b"\x00\x00\x00\x00" + b"\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out += b"\x02" + b"\x03" + b"\x44\x01\x05" + b"\x00"
    return bytes(out + b"\x3b")


def encode_flac_streaminfo(
    sample_rate: int, channels: int, bits_per_sample: int, total_samples: int
) -> bytes:
    """FLAC signature + a bit-exact STREAMINFO block (r12) — the test
    counterpart of :func:`parse_flac`; no audio frames follow."""
    b = bytearray(34)
    b[10] = (sample_rate >> 12) & 0xFF
    b[11] = (sample_rate >> 4) & 0xFF
    b[12] = (
        ((sample_rate & 0xF) << 4)
        | ((channels - 1) << 1)
        | ((bits_per_sample - 1) >> 4)
    )
    b[13] = (((bits_per_sample - 1) & 0xF) << 4) | ((total_samples >> 32) & 0xF)
    b[14:18] = (total_samples & 0xFFFFFFFF).to_bytes(4, "big")
    return b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + bytes(b)


def encode_ogg(
    codec: str,
    channels: int,
    sample_rate: int,
    granules: "list[int]",
    pre_skip: int = 0,
    tags: "dict | None" = None,
) -> bytes:
    """Header-valid Ogg stream fixture (r12): an identification page
    (``OpusHead`` or Vorbis ident per ``codec``) followed by one dummy
    page per entry in ``granules`` — the test counterpart of
    :func:`parse_ogg`'s page walk; payload bytes are filler. ``tags``
    (late r13) adds a real comment-header page (OpusTags /
    ``\x03vorbis`` + Vorbis-comment structure) after the ident."""

    def page(granule: int, payload: bytes, seq: int, first: bool) -> bytes:
        nseg = (len(payload) + 254) // 255 or 1
        lace, rem = [], len(payload)
        for _ in range(nseg):
            lace.append(min(255, rem))
            rem -= lace[-1]
        return (
            b"OggS"
            + bytes([0, 2 if first else 0])
            + granule.to_bytes(8, "little", signed=True)
            + (1).to_bytes(4, "little")
            + seq.to_bytes(4, "little")
            + b"\x00" * 4
            + bytes([nseg])
            + bytes(lace)
            + payload
        )

    if codec == "opus":
        ident = (
            b"OpusHead"
            + bytes([1, channels])
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", sample_rate)
            + b"\x00\x00\x00"
        )
    elif codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)
            + bytes([channels])
            + struct.pack("<I", sample_rate)
            + b"\x00" * 16
        )
    else:
        raise ValueError(f"unknown codec {codec!r}")
    out = page(0, ident, 0, True)
    seq = 1
    if tags is not None:
        vendor = b"pls-spark"
        body = struct.pack("<I", len(vendor)) + vendor
        body += struct.pack("<I", len(tags))
        for k, v in tags.items():
            c = f"{k}={v}".encode("utf-8")
            body += struct.pack("<I", len(c)) + c
        marker = b"OpusTags" if codec == "opus" else b"\x03vorbis"
        out += page(0, marker + body, seq, False)
        seq += 1
    for g in granules:
        out += page(g, b"\x00" * 20, seq, False)
        seq += 1
    return out


def parse_flac(payload: bytes) -> dict:
    """FLAC STREAMINFO metadata parse (r12): sample rate (20 bits),
    channels (3 bits + 1), bits per sample (5 bits + 1) and the 36-bit
    total-samples count → exact duration, all from the mandatory first
    metadata block — no frame decoding. Sample recovery stays
    import-gated like MP3 (the documented compressed-audio tier)."""
    if payload[:4] != b"fLaC" or len(payload) < 8:
        raise ValueError("not a FLAC (bad signature)")
    header = payload[4]
    if header & 0x7F != 0:  # block type 0 = STREAMINFO, mandatory first
        raise ValueError("FLAC missing STREAMINFO")
    b = payload[8:42]
    if len(b) < 18:
        raise ValueError("FLAC STREAMINFO truncated")
    sample_rate = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
    channels = ((b[12] >> 1) & 0x7) + 1
    bit_depth = (((b[12] & 1) << 4) | (b[13] >> 4)) + 1
    total = ((b[13] & 0xF) << 32) | int.from_bytes(b[14:18], "big")
    if sample_rate == 0:
        raise ValueError("FLAC degenerate sample rate")
    return {
        "format": "flac",
        "channels": channels,
        "sample_rate": sample_rate,
        "bit_depth": bit_depth,
        "n_frames": total or None,  # 0 means 'unknown' per spec
        "duration_sec": total / sample_rate if total else None,
        "rms": None,
        "peak": None,
    }


def _flac_metadata_blocks(payload: bytes):
    """Yield (block_type, body) for each FLAC metadata block; stops at
    the last-block flag or a truncated header."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC (bad signature)")
    pos = 4
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        (length,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) < length:
            return  # truncated block: keep the parsed prefix
        yield hdr & 0x7F, body
        pos += 4 + length
        if hdr & 0x80:
            return


def _parse_vorbis_comments(body: bytes) -> dict:
    """Vorbis-comment structure → the shared tag surface
    (title/artist/album/year/genre): LE u32 vendor length + vendor,
    LE u32 count, then count × (LE u32 length + "KEY=value" UTF-8).
    Field names are case-insensitive per spec; DATE maps to ``year``
    as a string (matching the ID3 TYER/TDRC surface). Shared by FLAC
    VORBIS_COMMENT blocks and Ogg OpusTags/\\x03vorbis packets —
    lengths LITTLE-endian in every host container (the classic trap
    inside big-endian FLAC). Truncation keeps the parsed prefix."""
    out: dict = {}
    p = 0
    if p + 4 > len(body):
        return out
    (vlen,) = struct.unpack("<I", body[p : p + 4])
    p += 4 + vlen
    if p + 4 > len(body):
        return out
    (count,) = struct.unpack("<I", body[p : p + 4])
    p += 4
    for _ in range(min(count, 4096)):
        if p + 4 > len(body):
            break
        (clen,) = struct.unpack("<I", body[p : p + 4])
        p += 4
        if p + clen > len(body):
            break
        try:
            comment = body[p : p + clen].decode("utf-8")
        except UnicodeDecodeError:
            p += clen
            continue
        p += clen
        key, _, value = comment.partition("=")
        key = key.lower()
        if key in ("title", "artist", "album", "genre"):
            out.setdefault(key, value or None)
        elif key == "date" and len(value) >= 4 and value[:4].isdigit():
            out.setdefault("year", value[:4])
    return out


def parse_flac_tags(payload: bytes) -> dict:
    """FLAC VORBIS_COMMENT tag extraction (r13) — the FLAC sibling of
    :func:`parse_id3_tags`, emitting the same dedup/join key surface
    via :func:`_parse_vorbis_comments`."""
    for btype, body in _flac_metadata_blocks(payload):
        if btype == 4:  # VORBIS_COMMENT
            return _parse_vorbis_comments(body)
    return {}


def parse_ogg_tags(payload: bytes) -> dict:
    """Ogg comment-header tag extraction (late r13): the OpusTags /
    ``\\x03vorbis`` packet (second packet of the stream, possibly
    spanning pages) through the same :func:`_parse_vorbis_comments`
    surface. Walks up to the first 8 pages (comment headers live at
    the stream head by spec); returns ``{}`` when none is found."""
    if payload[:4] != b"OggS":
        return {}
    joined = bytearray()
    p = 0
    for _ in range(8):
        if payload[p : p + 4] != b"OggS" or p + 27 > len(payload):
            break
        nseg = payload[p + 26]
        lace = payload[p + 27 : p + 27 + nseg]
        if len(lace) < nseg:
            break
        plen = sum(lace)
        start = p + 27 + nseg
        joined += payload[start : start + plen]
        p = start + plen
        if p >= len(payload):
            break
    for marker, skip in ((b"OpusTags", 8), (b"\x03vorbis", 7)):
        i = bytes(joined).find(marker)
        if i >= 0:
            return _parse_vorbis_comments(bytes(joined[i + skip :]))
    return {}


_WAV_INFO_FIELDS = {
    b"INAM": "title", b"IART": "artist", b"IPRD": "album",
    b"ICRD": "year", b"IGNR": "genre",
}


def parse_wav_tags(payload: bytes) -> dict:
    """RIFF LIST/INFO tag extraction (late r13): INAM/IART/IPRD/ICRD/
    IGNR sub-chunks → the shared tag surface. ICRD keeps its leading
    YYYY as the year string. Chunks are word-aligned; strings are
    NUL-padded latin-1/UTF-8 best effort."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return {}
    out: dict = {}
    p = 12
    n = len(payload)
    while p + 8 <= n:
        tag = payload[p : p + 4]
        (length,) = struct.unpack("<I", payload[p + 4 : p + 8])
        body = payload[p + 8 : p + 8 + length]
        if tag == b"LIST" and body[:4] == b"INFO":
            q = 4
            while q + 8 <= len(body):
                sub = body[q : q + 4]
                (slen,) = struct.unpack("<I", body[q + 4 : q + 8])
                sval = body[q + 8 : q + 8 + slen]
                field = _WAV_INFO_FIELDS.get(sub)
                if field:
                    text = sval.split(b"\x00", 1)[0].decode(
                        "utf-8", "replace"
                    )
                    if field == "year":
                        if len(text) >= 4 and text[:4].isdigit():
                            out.setdefault("year", text[:4])
                    elif text:
                        out.setdefault(field, text)
                q += 8 + slen + (slen & 1)
        p += 8 + length + (length & 1)
    return out


def add_wav_info(wav: bytes, tags: dict) -> bytes:
    """Fixture helper (late r13): append a LIST/INFO chunk to a RIFF
    WAVE stream (RIFF size patched). ``tags`` uses the shared field
    names (title/artist/album/year/genre)."""
    rev = {v: k for k, v in _WAV_INFO_FIELDS.items()}
    body = bytearray(b"INFO")
    for field, value in tags.items():
        sub = rev[field]
        data = str(value).encode("utf-8") + b"\x00"
        body += sub + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            body += b"\x00"
    out = bytearray(wav)
    out += b"LIST" + struct.pack("<I", len(body)) + bytes(body)
    out[4:8] = struct.pack("<I", len(out) - 8)
    return bytes(out)


def parse_flac_picture(payload: bytes) -> "dict | None":
    """FLAC PICTURE block parse (r13): embedded cover art — a REAL
    image payload inside an audio container, the cross-modal edge a
    crawl pipeline routes back through the image kernels. Returns
    picture type, MIME, declared dims, and the raw image ``data``
    (feed it to parse_png/parse_jpeg/extract_image_meta), or None when
    no PICTURE block exists. All integers BIG-endian per spec."""
    for btype, body in _flac_metadata_blocks(payload):
        if btype != 6:  # PICTURE
            continue
        p = 0

        def u32():
            nonlocal p
            if p + 4 > len(body):
                raise ValueError("FLAC PICTURE truncated")
            (v,) = struct.unpack(">I", body[p : p + 4])
            p += 4
            return v

        ptype = u32()
        n = u32()
        mime = body[p : p + n]
        p += n
        n = u32()
        desc = body[p : p + n]
        p += n
        width, height, depth, _colors = u32(), u32(), u32(), u32()
        dlen = u32()
        if p + dlen > len(body):
            raise ValueError("FLAC PICTURE data truncated")
        return {
            "picture_type": ptype,
            "mime": mime.decode("ascii", "replace"),
            "description": desc.decode("utf-8", "replace"),
            "width": width,
            "height": height,
            "depth": depth,
            "data": body[p : p + dlen],
        }
    return None


def add_flac_metadata(flac: bytes, *, tags: "dict | None" = None,
                      picture: "dict | None" = None) -> bytes:
    """Fixture helper (r13): insert VORBIS_COMMENT / PICTURE metadata
    blocks after an existing stream's STREAMINFO (clearing its
    last-block flag). ``tags`` maps field->value; ``picture`` needs
    ``data`` and optionally mime/width/height/depth/picture_type."""
    if flac[:4] != b"fLaC" or len(flac) < 8:
        raise ValueError("not a FLAC")
    hdr = flac[4]
    (length,) = struct.unpack(">I", b"\x00" + flac[5:8])
    si_end = 8 + length
    blocks = []
    if tags:
        vendor = b"pls-spark"
        body = struct.pack("<I", len(vendor)) + vendor
        body += struct.pack("<I", len(tags))
        for k, v in tags.items():
            c = f"{k}={v}".encode("utf-8")
            body += struct.pack("<I", len(c)) + c
        blocks.append((4, body))
    if picture:
        data = picture["data"]
        mime = picture.get("mime", "image/png").encode("ascii")
        desc = picture.get("description", "").encode("utf-8")
        body = struct.pack(">I", picture.get("picture_type", 3))
        body += struct.pack(">I", len(mime)) + mime
        body += struct.pack(">I", len(desc)) + desc
        body += struct.pack(
            ">IIII", picture.get("width", 0), picture.get("height", 0),
            picture.get("depth", 24), 0,
        )
        body += struct.pack(">I", len(data)) + data
        blocks.append((6, body))
    out = bytearray(flac[:4])
    out.append(hdr & 0x7F)  # STREAMINFO no longer last
    out += flac[5:si_end]
    for i, (btype, body) in enumerate(blocks):
        flag = 0x80 if (hdr & 0x80 and i == len(blocks) - 1) else 0
        out.append(flag | btype)
        out += struct.pack(">I", len(body))[1:]
        out += body
    out += flac[si_end:]
    return bytes(out)


def parse_ogg(payload: bytes) -> dict:
    """Ogg container metadata parse (r12): identifies the codec from
    the first page's payload (OpusHead / \\x01vorbis), reads channels
    and sample rate from the identification header, and walks the page
    headers (27 bytes + lacing table each, no payload decode) to the
    LAST granule position → duration (Opus granules tick at 48 kHz
    regardless of input rate, minus pre-skip; Vorbis granules tick at
    the stream rate). A truncated tail keeps the last whole page's
    granule — the :func:`parse_mp3` consistent-prefix posture."""
    if payload[:4] != b"OggS" or len(payload) < 28:
        raise ValueError("not an Ogg (bad capture pattern)")

    def page(p: int):
        """(granule, payload_start, payload_len, next_page) or None."""
        if payload[p : p + 4] != b"OggS" or p + 27 > len(payload):
            return None
        granule = int.from_bytes(payload[p + 6 : p + 14], "little", signed=True)
        nseg = payload[p + 26]
        lace = payload[p + 27 : p + 27 + nseg]
        if len(lace) < nseg:
            return None
        plen = sum(lace)
        start = p + 27 + nseg
        if start + plen > len(payload):
            return None
        return granule, start, plen, start + plen

    first = page(0)
    if first is None:
        raise ValueError("Ogg first page truncated")
    _, start, plen, nxt = first
    ident = payload[start : start + plen]
    if ident[:8] == b"OpusHead" and len(ident) >= 16:
        codec = "opus"
        channels = ident[9]
        pre_skip = struct.unpack("<H", ident[10:12])[0]
        sample_rate = struct.unpack("<I", ident[12:16])[0]
        tick = 48000  # Opus granules are 48 kHz by definition
    elif ident[:7] == b"\x01vorbis" and len(ident) >= 16:
        codec = "vorbis"
        channels = ident[11]
        sample_rate = struct.unpack("<I", ident[12:16])[0]
        pre_skip = 0
        tick = sample_rate
    else:
        raise ValueError("Ogg unknown codec identification header")
    last_granule = None
    p = nxt
    while p < len(payload):
        pg = page(p)
        if pg is None:
            break  # truncated/garbage tail: keep the consistent prefix
        granule, _, _, p = pg
        if granule >= 0:  # -1 marks a page with no completed packet
            last_granule = granule
    duration = None
    n_frames = None
    if last_granule is not None and tick:
        n_frames = max(0, last_granule - pre_skip)
        duration = n_frames / tick
    return {
        "format": codec,
        "channels": channels,
        "sample_rate": sample_rate,
        "bit_depth": None,
        "n_frames": n_frames,
        "duration_sec": duration,
        "rms": None,
        "peak": None,
    }


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        # double, not int: float-WAV peaks are floats and a full-scale
        # PCM32 peak (2^31) overflows int32 (r12)
        T.StructField("peak", T.DoubleType()),
    ]
)


# text-frame ids -> canonical tag names, ID3v2.3/2.4 (4-char) and the
# ID3v2.2 3-char ancestors. TDRC is the v2.4 recording time; TYER the
# v2.3 year — both land in `year`.
_ID3_FRAMES = {
    "TIT2": "title", "TT2": "title",
    "TPE1": "artist", "TP1": "artist",
    "TALB": "album", "TAL": "album",
    "TDRC": "year", "TYER": "year", "TYE": "year",
    "TCON": "genre", "TCO": "genre",
}
_ID3_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def parse_id3_tags(payload: bytes) -> dict:
    """ID3v2 text-frame extraction (r12): title / artist / album / year
    / genre from an ID3v2.2/2.3/2.4 tag — the fields audio-dataset
    curation dedups and joins on. Frame walk only (no audio decode):
    v2.3 frames carry plain big-endian sizes, v2.4 syncsafe, v2.2 the
    3-byte ancestor layout; text payloads decode per their declared
    encoding (latin-1 / UTF-16 with BOM / UTF-16BE / UTF-8), NUL
    terminators and padding stripped. Returns ``{}`` for payloads
    without a leading ID3v2 tag; a corrupt frame ends the walk at the
    consistent prefix. The rare unsynchronised tag (flag bit 7) is
    skipped wholesale rather than mis-decoded."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return {}
    ver = payload[3]
    flags = payload[5]
    size = 0
    for b in payload[6:10]:
        size = (size << 7) | (b & 0x7F)
    end = min(len(payload), 10 + size)
    pos = 10
    if flags & 0x80:
        return {}  # unsynchronised: de-unsync not worth mis-decoding
    if flags & 0x40 and pos + 4 <= end:  # extended header: skip it
        (ext,) = struct.unpack(">I", payload[pos : pos + 4])
        if ver >= 4:  # v2.4 extended size is syncsafe and SELF-inclusive
            ext = ((ext & 0x7F000000) >> 3) | ((ext & 0x7F0000) >> 2) | (
                (ext & 0x7F00) >> 1
            ) | (ext & 0x7F)
            pos += ext
        else:  # v2.3: size EXCLUDES the 4 size bytes
            pos += 4 + ext
    tags: dict = {}
    id_len, hdr_len = (3, 6) if ver == 2 else (4, 10)
    while pos + hdr_len <= end:
        fid = payload[pos : pos + id_len]
        if not fid.strip(b"\x00"):
            break  # padding reached
        try:
            fid_s = fid.decode("ascii")
        except UnicodeDecodeError:
            break
        if ver == 2:
            flen = int.from_bytes(payload[pos + 3 : pos + 6], "big")
        elif ver >= 4:
            flen = 0  # syncsafe
            for b in payload[pos + 4 : pos + 8]:
                flen = (flen << 7) | (b & 0x7F)
        else:
            (flen,) = struct.unpack(">I", payload[pos + 4 : pos + 8])
        body = payload[pos + hdr_len : pos + hdr_len + flen]
        if len(body) < flen:
            break  # truncated frame: consistent prefix
        name = _ID3_FRAMES.get(fid_s)
        if name is not None and name not in tags and len(body) >= 2:
            enc = _ID3_ENCODINGS.get(body[0])
            if enc is not None:
                try:
                    text = body[1:].decode(enc, errors="replace")
                    text = text.split("\x00", 1)[0].strip()
                    if text:
                        tags[name] = text
                except (UnicodeDecodeError, LookupError):
                    pass
        pos += hdr_len + flen
    return tags


ID3_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("album", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("genre", T.StringType()),
    ]
)


def extract_audio_tags(media: DataFrame) -> DataFrame:
    """mapInPandas audio tag extraction: the dedup/join keys an audio
    curation pipeline carries alongside the signal features — ID3v2
    frames for MPEG audio (r12), VORBIS_COMMENT fields for FLAC (r13,
    same column surface). Payloads without tags (or corrupt ones) get
    NULL columns — the same crawl-garbage contract as every media
    kernel."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    if b[:4] == b"fLaC":
                        tags = parse_flac_tags(b)
                    elif b[:4] == b"OggS":
                        tags = parse_ogg_tags(b)
                    elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                        tags = parse_wav_tags(b)
                    else:
                        tags = parse_id3_tags(b)
                except Exception:
                    tags = {}
                rows.append(
                    (
                        media_id,
                        tags.get("title"),
                        tags.get("artist"),
                        tags.get("album"),
                        tags.get("year"),
                        tags.get("genre"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "title", "artist", "album", "year", "genre"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, ID3_TAGS_SCHEMA
    )


def encode_id3_tag(
    frames: "dict[str, str]",
    *,
    version: int = 4,
    encoding: int = 3,
    footer: bool = False,
) -> bytes:
    """ID3v2 tag fixture (r12) — the test counterpart of
    :func:`parse_id3_tags`. ``frames`` maps frame ids (``TIT2``...) to
    text; ``version`` 2/3/4 picks the frame layout, ``encoding`` the
    text encoding byte (0/1/2/3)."""
    enc_name = _ID3_ENCODINGS[encoding]
    body = b""
    for fid, text in frames.items():
        data = bytes([encoding]) + text.encode(enc_name)
        if version == 2:
            body += fid.encode()[:3] + len(data).to_bytes(3, "big") + data
        elif version >= 4:
            n = len(data)
            ss = bytes(
                ((n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F)
            )
            body += fid.encode() + ss + b"\x00\x00" + data
        else:
            body += fid.encode() + struct.pack(">I", len(data)) + b"\x00\x00" + data
    size = len(body)
    ss = bytes(
        ((size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F)
    )
    flags = 0x10 if footer else 0
    head = b"ID3" + bytes((version, 0, flags)) + ss
    out = head + body
    if footer:
        out += b"3DI" + bytes((version, 0, flags)) + ss
    return out


def extract_audio_meta(media: DataFrame) -> DataFrame:
    """mapInPandas audio decode over payload batches: WAV integer-PCM
    8/16/24/32 and IEEE float32/64 → full decode (frames, duration, RMS,
    peak; r12 widened from PCM16-only, EXTENSIBLE headers unwrapped),
    compressed WAV → header metadata, MPEG audio (r11) → frame-walk
    metadata (duration / rate / channels via :func:`parse_mp3`; sample
    tier stays import-gated), garbage → NULL columns (same
    crawl-garbage contract as :func:`extract_image_meta`)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    if b[:4] == b"RIFF":
                        m = parse_wav(b)
                    elif b[:4] == b"fLaC":
                        m = parse_flac(b)
                        # r13: FLAC samples decode for REAL (Rice/LPC
                        # frame layer, multimodal/flac.py); a stream
                        # with corrupt/absent frames keeps the
                        # STREAMINFO metadata tier
                        try:
                            import numpy as np

                            from .flac import decode_flac_pcm

                            d = decode_flac_pcm(b)
                            s = d["samples"].astype(np.float64)
                            if s.size:
                                m = dict(
                                    m,
                                    n_frames=d["n_frames"],
                                    duration_sec=d["duration_sec"],
                                    rms=float(np.sqrt((s * s).mean())),
                                    peak=float(np.abs(s).max()),
                                )
                        except Exception:
                            # blanket, matching every other media
                            # kernel (r13 ADVICE): an unanticipated
                            # exception type from the PCM layer must
                            # not fail the Spark stage — keep the
                            # STREAMINFO metadata tier instead
                            pass
                    elif b[:4] == b"OggS":
                        m = parse_ogg(b)
                    elif b[:3] == b"ID3" or (
                        len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0
                    ):
                        m = parse_mp3(b)
                    else:
                        m = None
                except Exception:
                    # same crawl-garbage contract as extract_image_meta: a
                    # RIFF header with corrupt innards can raise beyond
                    # ValueError (struct.error on a truncated chunk —
                    # advisor probe, r10); NULL columns, never a throw
                    m = None
                if m is None:
                    rows.append(
                        (media_id, None, None, None, None, None, None, None, None)
                    )
                else:
                    rows.append(
                        (
                            media_id,
                            m["format"],
                            m["channels"],
                            m["sample_rate"],
                            m["bit_depth"],
                            m["n_frames"],
                            m["duration_sec"],
                            m["rms"],
                            float(m["peak"]) if m["peak"] is not None else None,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "channels", "sample_rate",
                    "bit_depth", "n_frames", "duration_sec", "rms", "peak",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, AUDIO_META_SCHEMA
    )


L3_SIDEINFO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("l3_gain_mean", T.DoubleType()),
        T.StructField("l3_short_share", T.DoubleType()),
    ]
)


def extract_mp3_sideinfo_stats(media: DataFrame) -> DataFrame:
    """mapInPandas Layer III side-info stats over payload batches (r14):
    mean global_gain and short-block share from :func:`parse_mp3`'s
    side-info walk — loudness / transient-density curation signals that
    need no Huffman decode. NULL columns for non-MPEG or non-Layer-III
    payloads (crawl-garbage contract)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    m = parse_mp3(b)
                    rows.append(
                        (media_id, m["l3_gain_mean"], m["l3_short_share"])
                    )
                except Exception:
                    rows.append((media_id, None, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "l3_gain_mean", "l3_short_share"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, L3_SIDEINFO_SCHEMA
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("head_hash", T.LongType()),
        T.StructField("feature_vec", T.ArrayType(T.DoubleType())),
    ]
)


def extract_media_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """mapInPandas feature extraction over payload batches.

    Features are deterministic byte-level stands-in for a vision encoder:
    byte histogram entropy, a rolling head hash, and a 16-dim normalized
    byte-histogram "embedding". Swap the inner function for a real encoder
    without touching the Spark plumbing.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n, entropy, head, feat = _byte_features(b)
                rows.append((media_id, n, entropy, head, feat))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "byte_entropy", "head_hash", "feature_vec"],
            )

    return media.select("media_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


IMAGE_PROFILE_SCHEMA = T.StructType(
    list(IMAGE_META_SCHEMA)
    + [f for f in FEATURE_SCHEMA if f.name != "media_id"]
    + [
        T.StructField("phash", T.LongType()),
        T.StructField("phash256", T.ArrayType(T.LongType())),
    ]
)


def extract_image_profile(media: DataFrame) -> DataFrame:
    """ONE mapInPandas pass emitting everything the curation pipeline
    wants per image row: the :data:`IMAGE_META_SCHEMA` columns, the
    byte-level features of :func:`extract_media_features`, and BOTH
    perceptual hashes (64- and 256-bit — ``multimodal/phash.py``).

    r13, closes the r12 advisor nit: chaining ``extract_image_meta`` +
    ``extract_media_features`` + ``attach_phash`` decodes every payload
    up to three times, and the decode IS ~all the cost at crawl scale.
    Here each payload is parsed ONCE (:func:`_parse_any_image`), the
    luma plane is built once, and one 32x32 DCT low block serves both
    hash widths (the 64-bit hash thresholds the block's 8x8 corner at
    that corner's own median — bit-identical to :func:`phash64` by
    construction, pinned in tests). NULL columns for undecodable
    payloads, same crawl-garbage contract as every kernel here."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .phash import _low_dct_block, _bits_to_words, gray_plane

        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n, entropy, head, feat = _byte_features(b)
                m = _parse_any_image(b)
                meta = (
                    (None,) * 9
                    if m is None
                    else (
                        m["format"], m["width"], m["height"], m["channels"],
                        m["bit_depth"], m.get("n_frames", 1),
                        m.get("orientation"), m.get("has_gps"),
                        m["pixel_mean"],
                    )
                )
                h64 = h256 = None
                px = m.get("pixels") if m is not None else None
                if px is not None and px.size:
                    blk = _low_dct_block(gray_plane(px), 16)
                    small = blk[:8, :8]
                    h64 = _bits_to_words(
                        (small > float(np.median(small))).reshape(-1)
                    )[0]
                    h256 = _bits_to_words(
                        (blk > float(np.median(blk))).reshape(-1)
                    )
                rows.append(
                    (media_id,) + meta + (n, entropy, head, feat, h64, h256)
                )
            # object dtype: a batch mixing hashes and NULLs would otherwise
            # infer float64 and round the 64-bit hashes (to 1024 at 2^62)
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_PROFILE_SCHEMA], dtype=object
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, IMAGE_PROFILE_SCHEMA
    )


def box_downsample(pixels, scale: int):
    """Box-average downsample of an (h, w, c) uint8 array by integer
    ``scale``: each output pixel is the mean of a ``scale × scale`` input
    block (edge blocks truncate to whatever rows/cols remain, mirroring
    how real resize kernels handle non-divisible dims). Pure numpy —
    ``np.add.reduceat`` along each axis then divide by the exact block
    areas — so the arithmetic is deterministic and testable against
    hand-computed goldens. Rounding is round-half-away-from-zero via
    ``floor(x + 0.5)`` (values are non-negative), NOT banker's rounding,
    so 0.5-exact averages are stable across numpy versions."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.float64)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, _ = px.shape
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    ys = np.arange(0, h, scale)
    xs = np.arange(0, w, scale)
    summed = np.add.reduceat(np.add.reduceat(px, ys, axis=0), xs, axis=1)
    blk_h = np.minimum(ys + scale, h) - ys  # edge blocks truncate
    blk_w = np.minimum(xs + scale, w) - xs
    area = np.multiply.outer(blk_h, blk_w)[:, :, None]
    return np.floor(summed / area + 0.5).astype(np.uint8)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixel_mean", T.DoubleType()),
    ]
)


def resize_images(media: DataFrame, scale: int = 2) -> DataFrame:
    """mapInPandas image resize over payload batches — the missing rung
    between decode and feature-extract in a multimodal curation pipeline
    (thumbnail / fixed-res normalization before a vision encoder).

    Each decodable PNG payload is decoded (:func:`parse_png`), box-average
    downsampled by ``scale`` (:func:`box_downsample`), and RE-ENCODED
    (:func:`encode_png`); the emitted ``width/height/channels/pixel_mean``
    metadata come from decoding the re-encoded bytes again, so a match
    against expected values proves the whole decode → resize → encode →
    decode loop, not just the numpy kernel. Non-decodable / non-PNG /
    metadata-only payloads emit NULL columns rather than throwing — a
    100 TB crawl always contains garbage bytes and a kernel that throws
    on them kills the stage. Batches stream through Arrow; nothing is
    collected."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    meta = parse_png(b) if b[:8] == _PNG_SIG else None
                    if meta is not None and meta["pixels"] is not None:
                        # round-trip: metadata from re-decoding the output
                        out = encode_png(box_downsample(meta["pixels"], scale))
                        m2 = parse_png(out)
                    else:
                        meta = None
                except Exception:
                    # the whole decode → resize → encode → re-decode loop is
                    # under the crawl-garbage contract: a valid PNG signature
                    # with corrupt IDAT raises zlib.error, a truncated IHDR
                    # struct.error (advisor probe, r10) — NULL row, no throw
                    meta = None
                if meta is None:
                    rows.append((media_id, None, None, None, None, None))
                    continue
                rows.append(
                    (
                        media_id,
                        out,
                        m2["width"],
                        m2["height"],
                        m2["channels"],
                        m2["pixel_mean"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "payload", "width", "height", "channels",
                    "pixel_mean",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


def parse_mp4(payload: bytes) -> dict:
    """ISO-BMFF (MP4/MOV/3GP/M4A) metadata parse (late r12): walk the
    box tree — ftyp major brand, mvhd timescale/duration → exact
    duration, per-trak tkhd presentation dims and hdlr handler type →
    video/audio track counts and the first video track's width/height.
    Pure structure walk (64-bit largesize boxes handled, unknown boxes
    skipped by size); no codec decode — sample data stays opaque, which
    is the documented video tier. A truncated tail keeps whatever boxes
    parsed whole; ValueError only when no ftyp/moov structure exists."""
    n = len(payload)
    if n < 8:
        raise ValueError("not an ISO-BMFF file (too short)")

    def boxes(start: int, end: int):
        p = start
        while p + 8 <= end:
            (size,) = struct.unpack(">I", payload[p : p + 4])
            tag = payload[p + 4 : p + 8]
            body = p + 8
            if size == 1:  # 64-bit largesize
                if p + 16 > end:
                    return
                (size,) = struct.unpack(">Q", payload[p + 8 : p + 16])
                body = p + 16
            elif size == 0:  # box extends to EOF
                size = end - p
            if size < 8 or p + size > end:
                return  # truncated / corrupt: keep the parsed prefix
            yield tag, body, p + size
            p += size

    brand = None
    duration = None
    width = height = None
    video_codec = None
    n_samples = fps = None
    n_keyframes = total_sample_bytes = max_sample_bytes = n_chunks = None
    n_video = n_audio = 0
    found_moov = False
    for tag, body, bend in boxes(0, n):
        if tag == b"ftyp" and bend - body >= 4:
            brand = payload[body : body + 4].decode("ascii", "replace").strip()
        elif tag == b"moov":
            found_moov = True
            for t2, b2, e2 in boxes(body, bend):
                if t2 == b"mvhd" and e2 - b2 >= 20:
                    version = payload[b2]
                    if version == 1:
                        # v1 layout needs 32 body bytes for timescale +
                        # 64-bit duration; a shorter (truncated) v1 body
                        # must NOT fall through to the v0 offsets — those
                        # would read creation/modification-time bytes —
                        # so it yields no duration at all (r13, ADVICE).
                        if e2 - b2 >= 32:
                            ts = int.from_bytes(payload[b2 + 20 : b2 + 24], "big")
                            dur = int.from_bytes(payload[b2 + 24 : b2 + 32], "big")
                        else:
                            ts = dur = 0
                    else:
                        ts = int.from_bytes(payload[b2 + 12 : b2 + 16], "big")
                        dur = int.from_bytes(payload[b2 + 16 : b2 + 20], "big")
                    if ts:
                        duration = dur / ts
                elif t2 == b"trak":
                    handler = None
                    tw = th = None
                    med_ts = trk_codec = None
                    ns = ticks = None
                    n_key = sz_total = sz_max = n_chunk = None
                    saw_stss = False
                    for t3, b3, e3 in boxes(b2, e2):
                        if t3 == b"tkhd" and e3 - b3 >= 84:
                            # width/height: 16.16 fixed point, last 8
                            # bytes of the box (same offset both versions
                            # counted from the END)
                            tw = int.from_bytes(payload[e3 - 8 : e3 - 5], "big")
                            th = int.from_bytes(payload[e3 - 4 : e3 - 1], "big")
                            tw, th = tw >> 8, th >> 8
                        elif t3 == b"mdia":
                            for t4, b4, e4 in boxes(b3, e3):
                                if t4 == b"hdlr" and e4 - b4 >= 12:
                                    handler = payload[b4 + 8 : b4 + 12]
                                elif t4 == b"mdhd" and e4 - b4 >= 16:
                                    # media timescale: v1 needs 24 body
                                    # bytes (same truncation discipline
                                    # as the r13 mvhd fix — a short v1
                                    # body must not fall through to v0
                                    # offsets)
                                    if payload[b4] == 1:
                                        if e4 - b4 >= 24:
                                            med_ts = int.from_bytes(
                                                payload[b4 + 20 : b4 + 24],
                                                "big",
                                            )
                                    else:
                                        med_ts = int.from_bytes(
                                            payload[b4 + 12 : b4 + 16], "big"
                                        )
                                elif t4 == b"minf":
                                    # r14: sample tables — stsd first
                                    # sample-entry fourcc (the codec id),
                                    # stts sample count + total decode
                                    # ticks (frame count and, with mdhd,
                                    # the average frame rate)
                                    for t5, b5, e5 in boxes(b4, e4):
                                        if t5 != b"stbl":
                                            continue
                                        for t6, b6, e6 in boxes(b5, e5):
                                            if (
                                                t6 == b"stsd"
                                                and e6 - b6 >= 16
                                            ):
                                                trk_codec = payload[
                                                    b6 + 12 : b6 + 16
                                                ].decode("ascii", "replace")
                                            elif (
                                                t6 == b"stts"
                                                and e6 - b6 >= 8
                                            ):
                                                cnt = int.from_bytes(
                                                    payload[b6 + 4 : b6 + 8],
                                                    "big",
                                                )
                                                if b6 + 8 + 8 * cnt > e6:
                                                    # declared entries
                                                    # overrun the box: a
                                                    # partial sum would
                                                    # report an under-
                                                    # counted n_samples /
                                                    # fps as if complete —
                                                    # refuse like the
                                                    # short-v1 mdhd branch
                                                    # (r14 ADVICE)
                                                    ns = ticks = None
                                                    continue
                                                p6 = b6 + 8
                                                ns = ticks = 0
                                                for _ in range(cnt):
                                                    sc = int.from_bytes(
                                                        payload[p6 : p6 + 4],
                                                        "big",
                                                    )
                                                    sd = int.from_bytes(
                                                        payload[
                                                            p6 + 4 : p6 + 8
                                                        ],
                                                        "big",
                                                    )
                                                    ns += sc
                                                    ticks += sc * sd
                                                    p6 += 8
                                            elif (
                                                t6 == b"stsz"
                                                and e6 - b6 >= 12
                                            ):
                                                # r15 sample-SIZE table:
                                                # fixed sample_size short-
                                                # circuits; else the per-
                                                # sample u32 list (declared
                                                # count must FIT — same
                                                # no-partial discipline as
                                                # stts)
                                                fixed = int.from_bytes(
                                                    payload[b6 + 4 : b6 + 8],
                                                    "big",
                                                )
                                                cnt = int.from_bytes(
                                                    payload[b6 + 8 : b6 + 12],
                                                    "big",
                                                )
                                                if fixed:
                                                    sz_total = fixed * cnt
                                                    sz_max = fixed if cnt else 0
                                                elif b6 + 12 + 4 * cnt <= e6:
                                                    sizes = [
                                                        int.from_bytes(
                                                            payload[
                                                                b6 + 12 + 4 * i
                                                                : b6 + 16 + 4 * i
                                                            ],
                                                            "big",
                                                        )
                                                        for i in range(cnt)
                                                    ]
                                                    sz_total = sum(sizes)
                                                    sz_max = (
                                                        max(sizes) if sizes else 0
                                                    )
                                            elif (
                                                t6 == b"stss"
                                                and e6 - b6 >= 8
                                            ):
                                                # r15 sync-sample table:
                                                # the keyframe count is the
                                                # entry count (entries must
                                                # fit; a PRESENT-but-corrupt
                                                # stss must not fall back to
                                                # the absent-box "all sync"
                                                # reading)
                                                saw_stss = True
                                                cnt = int.from_bytes(
                                                    payload[b6 + 4 : b6 + 8],
                                                    "big",
                                                )
                                                if b6 + 8 + 4 * cnt <= e6:
                                                    n_key = cnt
                                            elif t6 in (
                                                b"stco",
                                                b"co64",
                                            ) and e6 - b6 >= 8:
                                                # r15 chunk-offset table:
                                                # u32 (stco) or u64 (co64)
                                                # offsets, count only
                                                cnt = int.from_bytes(
                                                    payload[b6 + 4 : b6 + 8],
                                                    "big",
                                                )
                                                esz = (
                                                    4 if t6 == b"stco" else 8
                                                )
                                                if b6 + 8 + esz * cnt <= e6:
                                                    n_chunk = cnt
                    if handler == b"vide":
                        n_video += 1
                        if width is None and tw:
                            width, height = tw, th
                        if video_codec is None and trk_codec:
                            video_codec = trk_codec
                        if n_samples is None and ns:
                            n_samples = ns
                            if ticks and med_ts:
                                fps = ns / (ticks / med_ts)
                        if n_keyframes is None:
                            # absent stss means EVERY sample is a sync
                            # sample (ISO 14496-12 §8.6.2) — but only
                            # when a sample count exists to fall back on;
                            # a present-but-corrupt stss yields None
                            # (falling back would fabricate keyframe
                            # density from a table that overran its box)
                            if n_key is not None:
                                n_keyframes = n_key
                            elif not saw_stss:
                                n_keyframes = ns
                        if total_sample_bytes is None and sz_total is not None:
                            total_sample_bytes = sz_total
                            max_sample_bytes = sz_max
                        if n_chunks is None and n_chunk is not None:
                            n_chunks = n_chunk
                    elif handler == b"soun":
                        n_audio += 1
    if brand is None and not found_moov:
        raise ValueError("no ISO-BMFF structure (missing ftyp and moov)")
    return {
        "format": "mp4",
        "brand": brand,
        "duration_sec": duration,
        "width": width,
        "height": height,
        "n_video_tracks": n_video,
        "n_audio_tracks": n_audio,
        # r14 sample-table tier (first video track): stsd codec fourcc,
        # stts frame count, and stts ticks / mdhd timescale -> avg fps
        "video_codec": video_codec,
        "n_samples": n_samples,
        "fps": fps,
        # r15 sample-SIZE/OFFSET tables (first video track): stss sync
        # count (absent stss -> every sample sync), stsz byte totals,
        # stco/co64 chunk count — what a frame-sampling pipeline needs
        # to seek (keyframe density, per-sample byte budget)
        "n_keyframes": n_keyframes,
        "total_sample_bytes": total_sample_bytes,
        "max_sample_bytes": max_sample_bytes,
        "n_chunks": n_chunks,
    }


def encode_mp4_skeleton(
    *,
    brand: str = "isom",
    timescale: int = 1000,
    duration: int = 0,
    video_dims: "tuple[int, int] | None" = None,
    n_audio_tracks: int = 0,
    video_codec: "str | None" = None,
    video_stts: "list[tuple[int, int]] | None" = None,
    media_timescale: int = 2400,
    video_sample_size: int = 0,
    video_sample_sizes: "list[int] | None" = None,
    video_sync_samples: "list[int] | None" = None,
    video_chunk_offsets: "list[int] | None" = None,
    use_co64: bool = False,
) -> bytes:
    """Structure-valid ISO-BMFF fixture (late r12) — the test
    counterpart of :func:`parse_mp4`: ftyp + moov(mvhd + one trak per
    declared track with tkhd dims and a vide/soun hdlr); no sample
    data, nothing decodable (same contract as the other skeletons).
    r14: ``video_codec`` / ``video_stts`` (a list of (sample_count,
    sample_delta) runs) add a real sample-table stack to the video
    trak — mdhd(media_timescale, Σcount·delta) + stbl(stsd with the
    codec fourcc, stts, stsz) — so frame count and average fps have
    closed forms for the oracle tier. r15: ``video_sample_sizes``
    (variable-size stsz entry list), ``video_sync_samples`` (an stss
    box with those 1-based keyframe indices), and
    ``video_chunk_offsets`` (an stco box, or co64 when ``use_co64``)
    complete the seek-relevant sample tables."""

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + tag + body

    def trak(handler: bytes, w: int = 0, h: int = 0) -> bytes:
        tkhd = box(
            b"tkhd",
            b"\x00" * 76 + struct.pack(">II", w << 16, h << 16),
        )
        hdlr = box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 12)
        mdia_children = hdlr
        if handler == b"vide" and (
            video_codec is not None or video_stts is not None
        ):
            runs = video_stts or []
            ticks = sum(c * d for c, d in runs)
            n = sum(c for c, _ in runs)
            mdhd = box(
                b"mdhd",
                b"\x00" * 12
                + struct.pack(">II", media_timescale, ticks)
                + b"\x00" * 4,
            )
            entry = (
                struct.pack(">I", 16)
                + (video_codec or "xxxx").encode("ascii")[:4].ljust(4, b"\x00")
                + b"\x00" * 8
            )
            stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
            stts = box(
                b"stts",
                b"\x00" * 4
                + struct.pack(">I", len(runs))
                + b"".join(struct.pack(">II", c, d) for c, d in runs),
            )
            if video_sample_sizes is not None:
                stsz = box(
                    b"stsz",
                    b"\x00" * 4
                    + struct.pack(">II", 0, len(video_sample_sizes))
                    + b"".join(
                        struct.pack(">I", s) for s in video_sample_sizes
                    ),
                )
            else:
                stsz = box(
                    b"stsz",
                    b"\x00" * 4 + struct.pack(">II", video_sample_size, n),
                )
            stbl_children = stsd + stts + stsz
            if video_sync_samples is not None:
                stbl_children += box(
                    b"stss",
                    b"\x00" * 4
                    + struct.pack(">I", len(video_sync_samples))
                    + b"".join(
                        struct.pack(">I", s) for s in video_sync_samples
                    ),
                )
            if video_chunk_offsets is not None:
                fmt, tag6 = (">Q", b"co64") if use_co64 else (">I", b"stco")
                stbl_children += box(
                    tag6,
                    b"\x00" * 4
                    + struct.pack(">I", len(video_chunk_offsets))
                    + b"".join(
                        struct.pack(fmt, o) for o in video_chunk_offsets
                    ),
                )
            mdia_children = hdlr + mdhd + box(b"minf", box(b"stbl", stbl_children))
        return box(b"trak", tkhd + box(b"mdia", mdia_children))

    mvhd = box(
        b"mvhd", b"\x00" * 12 + struct.pack(">II", timescale, duration)
        + b"\x00" * 80
    )
    traks = b""
    if video_dims is not None:
        traks += trak(b"vide", *video_dims)
    for _ in range(n_audio_tracks):
        traks += trak(b"soun")
    return (
        box(b"ftyp", brand.encode("ascii") + b"\x00\x00\x02\x00isommp41")
        + box(b"moov", mvhd + traks)
    )


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("brand", T.StringType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_video_tracks", T.IntegerType()),
        T.StructField("n_audio_tracks", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("n_keyframes", T.LongType()),
        T.StructField("total_sample_bytes", T.LongType()),
        T.StructField("max_sample_bytes", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
    ]
)


def extract_video_meta(media: DataFrame) -> DataFrame:
    """mapInPandas ISO-BMFF metadata over payload batches (late r12):
    duration / dims / track counts for MP4-family containers, NULL
    columns for anything else — the video leg of the image/audio
    kernels, same crawl-garbage contract. Sample decode is out of scope
    by design (codec licensing and library weight belong to a real
    cluster's PIL/ffmpeg tier); :func:`sample_frames` provides the
    frame-sampling plumbing."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                m = None
                if len(b) >= 12 and b[4:8] in (b"ftyp", b"moov", b"mdat"):
                    try:
                        m = parse_mp4(b)
                    except Exception:
                        m = None
                if m is None:
                    rows.append((media_id,) + (None,) * 14)
                else:
                    rows.append(
                        (
                            media_id,
                            m["format"],
                            m["brand"],
                            m["duration_sec"],
                            m["width"],
                            m["height"],
                            m["n_video_tracks"],
                            m["n_audio_tracks"],
                            m["video_codec"],
                            m["n_samples"],
                            m["fps"],
                            m["n_keyframes"],
                            m["total_sample_bytes"],
                            m["max_sample_bytes"],
                            m["n_chunks"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "brand", "duration_sec", "width",
                    "height", "n_video_tracks", "n_audio_tracks",
                    "video_codec", "n_samples", "fps", "n_keyframes",
                    "total_sample_bytes", "max_sample_bytes", "n_chunks",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, VIDEO_META_SCHEMA
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 4096, max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing: emit (media_id, frame_idx, frame_payload)
    rows by slicing the payload — the partitioning/explode shape of real
    video frame sampling with a byte-slice stand-in for the codec."""
    n_frames = F.least(
        F.lit(max_frames),
        F.greatest(F.lit(1), (F.col("n_bytes") / every_n_bytes).cast("int")),
    )
    exploded = media.select(
        "media_id",
        "payload",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    )
    return exploded.select(
        "media_id",
        "frame_idx",
        F.expr(
            f"substring(payload, frame_idx * {every_n_bytes} + 1, {every_n_bytes})"
        ).alias("frame_payload"),
    )
