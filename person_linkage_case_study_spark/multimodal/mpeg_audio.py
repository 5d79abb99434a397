"""MPEG-1 Audio Layer I frame-layer decode + filterbank machinery (r14).

Closes the tractable slice of the r13 verdict's "what's missing #2"
(MP3 sample decode): the complete **Layer I** frame layer decodes for
real — header walk (ID3v2 skip, resync), CRC-16 enforcement over the
protected allocation bits, 4-bit bit-allocation tables, 6-bit
scalefactors, and EXACT sample requantization — everything in ISO/IEC
11172-3 that is defined by *closed forms* rather than numeric tables:

* scalefactors:  sf(idx) = 2 · 2^(−idx/3), idx ∈ [0, 62] (63 forbidden);
* requantization (Layer I, nb bits): invert the code's MSB, take the
  two's-complement fraction s''' = v / 2^(nb−1), then
  s'' = (s''' + 2^(1−nb)) · 2^nb / (2^nb − 1),  s = sf · s'';
* the synthesis matrixing  N[i][k] = cos((16+i)(2k+1)π/64)  and its
  analysis twin  M[i][k] = cos((2i+1)(k−16)π/64).

**What is deliberately NOT here, and why.** Two pieces of Layer I/II
are *numerically specified* spec tables with no closed form: the
512-coefficient prototype window (Table 3-B.3) that the synthesis
filterbank needs to turn subband samples into PCM, and Layer II's
bit-allocation tables (3-B.2a–d). Neither ships in this container and
neither can be re-derived — fabricating 512 coefficients "from
memory" would produce a decoder that *looks* complete and decodes
real-world audio wrongly. So:

* :func:`synthesize_pcm` takes the window as an argument and raises a
  clearly-worded ValueError naming Table 3-B.3 when none is supplied;
* :func:`design_prototype_window` builds a DETERMINISTIC, clearly
  non-spec near-perfect-reconstruction prototype (Kaiser-windowed
  sinc, the textbook pseudo-QMF construction) so the full
  subband→PCM→subband machinery is real, runnable, and round-trip
  TESTED — drop the ISO table in and the identical code is
  spec-true;
* Layer II (r14): the complete §2.4.3.3 frame layer decodes for real
  too — variable-width allocation fields, scfsi-folded scalefactors,
  grouped base-3/5/9 triplet codes, bit-level CRC-16 — because Table
  3-B.4's C/D requantization constants turn out to be CLOSED FORMS
  (C = 2^nb/nlevels, D = (2^(nb−1) − (nlevels−1)/2)/2^(nb−1),
  verified digit-for-digit against the published libmad table for all
  17 classes; :func:`layer2_quant`). Only the per-(samplerate,
  bitrate) allocation tables (3-B.2a–d) are genuinely numeric spec
  data, so :func:`decode_layer2` takes ``alloc_table=`` and raises a
  ValueError naming the tables when none is supplied;
  :func:`design_alloc_table` builds a deterministic, clearly non-spec
  table with the real structure for fixtures — drop a transcribed ISO
  table into the same shape and the identical code is spec-true.

Frame-layer decode alone is the valuable part for the oracle: the
requantized SUBBAND samples are exact rationals of (alloc, code, sf),
so a fixture stream built by :func:`encode_layer1` decodes to values
with *closed forms the DuckDB oracle can replicate arithmetically* —
the mm_media_features tier discipline (FLAC's fpc CTE), now for MPEG.

Reference scope: person_linkage_case_study has no audio tier at all —
this module belongs to the LLM-data-pipeline extension surface.
Behavior cited from the public spec (ISO/IEC 11172-3 §2.4) and the
public decoder lineage (libmad layer12.c's requantization shape).
"""

from __future__ import annotations

import struct  # noqa: F401  (kept: kernels catch struct.error uniformly)

from .flac import _BitReader, crc16

#: Layer I/II scalefactor table, ISO 11172-3 Table 3-B.1: the closed
#: form 2 · 2^(−idx/3). Index 63 ('111111') is forbidden.
LAYER1_SF = tuple(2.0 * 2.0 ** (-i / 3.0) for i in range(63))

#: Decoded-output ceiling (requantized subband samples), the
#: :data:`flac.FLAC_SAMPLE_LIMIT` analogue (r14 review): minimal
#: 32-byte Layer I frames amplify ~192x into (12, 2, 32) float64
#: arrays, so a large crawl payload must refuse loudly instead of
#: OOM-killing the Python worker mid-concatenate. 2^25 samples
#: ~= 256 MB of float64 — far above any real fixture, far below heap.
MPEG_SAMPLE_LIMIT = 1 << 25

_SR_TABLE = {0: 44100, 1: 48000, 2: 32000}  # MPEG-1 sampling_frequency
#: MPEG-1 Layer I bitrate table (kbit/s), index 0 = free (unsupported
#: here), 15 = forbidden.
_BR_TABLE_L1 = (
    None, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448,
)


def _requant_l1(code: int, nb: int) -> float:
    """Exact Layer I requantization of an nb-bit code: MSB-inverted
    two's-complement fraction, then the affine de-map
    (s''' + 2^(1−nb)) · 2^nb/(2^nb − 1). Pure closed form — the DuckDB
    oracle replicates it with pow()."""
    v = code ^ (1 << (nb - 1))
    if v & (1 << (nb - 1)):
        v -= 1 << nb
    s3 = v / float(1 << (nb - 1))
    return (s3 + 2.0 ** (1 - nb)) * ((1 << nb) / float((1 << nb) - 1))


def _bit_fields(bits, start: int, widths):
    """Vectorized variable-width big-endian field extraction (r14):
    ``bits`` is the frame's ``np.unpackbits`` array, ``widths`` the
    per-field bit counts in wire order (0-width fields yield 0).
    One gather + matvec per DISTINCT width — the numpy replacement for
    the per-field ``_BitReader`` loop (measured ~7× on the MPEG bench).
    Raises when the fields overrun the frame (a corrupt allocation
    cannot silently read into the next frame's bytes)."""
    import numpy as np

    widths = np.asarray(widths, np.int64)
    if widths.size == 0:
        return np.zeros(0, np.int64)
    ends = start + np.cumsum(widths)
    if ends[-1] > bits.size:
        raise ValueError("MPEG truncated inside frame")
    starts = ends - widths
    out = np.zeros(widths.size, np.int64)
    for w in np.unique(widths):
        if w == 0:
            continue
        sel = widths == w
        idx = starts[sel][:, None] + np.arange(w, dtype=np.int64)
        out[sel] = bits[idx].astype(np.int64) @ (
            1 << np.arange(w - 1, -1, -1, dtype=np.int64)
        )
    return out


def _bit_fields_const(bits, start: int, w: int, count: int):
    """The fixed-width fast path of :func:`_bit_fields` (one reshape)."""
    import numpy as np

    end = start + w * count
    if end > bits.size:
        raise ValueError("MPEG truncated inside frame")
    return bits[start:end].reshape(count, w).astype(np.int64) @ (
        1 << np.arange(w - 1, -1, -1, dtype=np.int64)
    )


def _skip_id3v2(b: bytes) -> int:
    """Byte offset past a leading ID3v2 tag (0 when none) — shared by
    both layer decoders (r14 review dedup; ``media.parse_mp3`` keeps
    its own richer variant with v2.4-footer handling)."""
    if b[:3] == b"ID3" and len(b) >= 10:
        size = (
            ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14)
            | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        )
        return 10 + size + (10 if b[5] & 0x10 else 0)
    return 0


def _frame_header(b: bytes, pos: int, layer: int):
    """Validated MPEG-1 Layer ``layer`` (1 or 2) frame header at
    ``pos`` → ``(protected, br, sr, mode, mode_ext, nch, frame_len)``,
    raising the uniform ValueErrors both decoders share (r14 review
    dedup of the twin header walks)."""
    if b[pos] != 0xFF or (b[pos + 1] & 0xE0) != 0xE0:
        raise ValueError("MPEG lost frame sync")
    h1, h2, h3 = b[pos + 1], b[pos + 2], b[pos + 3]
    if (h1 >> 3) & 0x3 != 0x3:
        raise ValueError("not MPEG-1")
    if (h1 >> 1) & 0x3 != (4 - layer):
        raise ValueError(f"not Layer {'I' * layer}")
    protected = not (h1 & 1)  # protection_bit 0 => CRC present
    br_idx, sr_idx = h2 >> 4, (h2 >> 2) & 0x3
    padding = (h2 >> 1) & 1
    mode, mode_ext = h3 >> 6, (h3 >> 4) & 0x3
    if br_idx == 0:
        raise ValueError("free-format bitrate unsupported")
    if br_idx == 15 or sr_idx == 3:
        raise ValueError("forbidden bitrate/samplerate index")
    br = (_BR_TABLE_L1 if layer == 1 else _BR_TABLE_L2)[br_idx]
    sr = _SR_TABLE[sr_idx]
    if layer == 1:
        frame_len = (12 * br * 1000 // sr + padding) * 4
    else:
        frame_len = 144 * br * 1000 // sr + padding
    nch = 1 if mode == 3 else 2
    return protected, br, sr, mode, mode_ext, nch, frame_len


def decode_layer1(payload: bytes) -> dict:
    """Decode every MPEG-1 Layer I frame in ``payload`` to requantized
    SUBBAND samples. Returns ``{sample_rate, channels, mode,
    bitrate_kbps, n_frames, subbands}`` where ``subbands`` is an
    (n_frames · 12, channels, 32) float64 array of exact requantized
    values (PCM needs :func:`synthesize_pcm` + the ISO window).

    Strict, like :func:`flac.decode_flac_pcm`: lost sync, forbidden
    allocation (15) / scalefactor (63) / bitrate codes, CRC-16
    mismatch over the protected allocation bits, or truncation inside
    a frame raise ValueError — the Spark kernels catch and NULL out
    (crawl-garbage contract). ID3v2 prefixes are skipped; a Layer
    II/III frame where a Layer I frame is expected raises (this is a
    Layer I decoder, not a sniffing router — ``media.parse_mp3`` owns
    that)."""
    import numpy as np

    b = bytes(payload)
    pos = _skip_id3v2(b)
    frames = []
    total_samples = 0
    sr0 = ch0 = mode0 = br0 = None
    slot_layout = None
    while pos + 4 <= len(b):
        protected, br, sr, mode, mode_ext, nch, frame_len = _frame_header(
            b, pos, 1
        )
        if pos + frame_len > len(b):
            raise ValueError("MPEG truncated inside frame")
        bound = 4 * (mode_ext + 1) if mode == 1 else 32
        if sr0 is None:
            sr0, ch0, mode0, br0 = sr, nch, mode, br
        elif (sr, nch) != (sr0, ch0):
            raise ValueError("MPEG frame parameter change mid-stream")

        # r14: vectorized body decode — one unpackbits per frame, then
        # fixed-width gathers for alloc/scf and one variable-width
        # gather + vector requantization for the sample section (the
        # arithmetic is IEEE-identical to the scalar forms: same
        # division, same 2^(1-nb) term, same multiply order)
        body = b[pos : pos + frame_len]
        bits = np.unpackbits(np.frombuffer(body, np.uint8))
        bp = (4 + (2 if protected else 0)) * 8
        crc_read = int.from_bytes(body[4:6], "big") if protected else None
        # wire-order allocation slots: per channel below the bound,
        # one shared slot above — cached per bound (nch is pinned by
        # the parameter-change check; bound may legally move frame to
        # frame with joint-stereo mode_extension)
        if slot_layout is None or slot_layout[0] != bound:
            slot_sb, slot_ch = [], []  # ch -1 = shared (both channels)
            for sb in range(32):
                if sb < bound:
                    for ch in range(nch):
                        slot_sb.append(sb)
                        slot_ch.append(ch)
                else:
                    slot_sb.append(sb)
                    slot_ch.append(-1)
            sb_arr = np.asarray(slot_sb, np.int64)
            ch_arr = np.asarray(slot_ch, np.int64)
            # consumer expansion: shared slots feed every channel
            cnt = np.where(ch_arr < 0, nch, 1)
            cons_slot = np.repeat(np.arange(sb_arr.size), cnt)
            cons_sb = np.repeat(sb_arr, cnt)
            intra = np.arange(cons_slot.size) - np.repeat(
                np.cumsum(cnt) - cnt, cnt
            )
            cons_ch = np.where(np.repeat(ch_arr, cnt) >= 0,
                               np.repeat(ch_arr, cnt), intra)
            slot_layout = (bound, sb_arr, ch_arr, cons_slot, cons_sb,
                           cons_ch)
        _, sb_arr, ch_arr, cons_slot, cons_sb, cons_ch = slot_layout
        nslots = sb_arr.size
        acodes = _bit_fields_const(bits, bp, 4, nslots)
        bp += 4 * nslots
        if np.any(acodes == 15):
            raise ValueError("forbidden Layer I allocation 15")
        alloc = np.zeros((nch, 32), np.int64)
        alloc[cons_ch, cons_sb] = acodes[cons_slot]
        if protected:
            # CRC covers header bytes 2-3 + the allocation bits: one
            # 4-bit slot per (channel, sb<bound) plus one per sb>=bound
            # — always a whole number of bytes (mono 128, stereo 256,
            # joint 144/160/176/192 bits)
            prot = body[2:4] + body[6 : 6 + (4 * nslots) // 8]
            if crc16(prot, init=0xFFFF) != crc_read:
                raise ValueError("MPEG CRC-16 mismatch")
        # scalefactors: 6-bit fields, wire order sb-major / ch-minor
        # over allocated slots — exactly row-major True positions of
        # the (32, nch) mask
        sc_mask = alloc.T > 0
        n_scf = int(sc_mask.sum())
        scodes = _bit_fields_const(bits, bp, 6, n_scf)
        bp += 6 * n_scf
        if np.any(scodes == 63):
            raise ValueError("forbidden scalefactor index 63")
        scf = np.zeros((32, nch), np.int64)
        scf[sc_mask] = scodes
        scf = scf.T  # (nch, 32)
        # samples: 12 repeats of the per-slot width pattern nb=alloc+1
        wpat = np.where(acodes > 0, acodes + 1, 0)
        codes = _bit_fields(bits, bp, np.tile(wpat, 12)).reshape(12, nslots)
        out = np.zeros((12, nch, 32))
        active = np.nonzero(wpat)[0]
        if active.size:
            c = codes[:, active]
            nb = wpat[active]
            msb = (1 << (nb - 1)).astype(np.int64)
            v = c ^ msb
            v = np.where((v & msb) != 0, v - (msb << 1), v)
            req = (v / msb + np.ldexp(1.0, (1 - nb).astype(np.int64))) * (
                (msb << 1) / ((msb << 1) - 1.0)
            )
            sf_arr = np.asarray(LAYER1_SF)
            # one fancy assignment over the active slots' consumers
            keep = np.isin(cons_slot, active)
            k_of = np.full(nslots, -1, np.int64)
            k_of[active] = np.arange(active.size)
            acs, asb, ach = cons_slot[keep], cons_sb[keep], cons_ch[keep]
            out[:, ach, asb] = sf_arr[scf[ach, asb]][None, :] * (
                req[:, k_of[acs]]
            )
        frames.append(out)
        total_samples += out.size
        if total_samples > MPEG_SAMPLE_LIMIT:
            raise ValueError(
                "MPEG decoded-sample ceiling exceeded "
                f"({total_samples} > {MPEG_SAMPLE_LIMIT}) — refusing the "
                "amplification (the FLAC_SAMPLE_LIMIT analogue)"
            )
        pos += frame_len
    if pos != len(b):
        raise ValueError("MPEG trailing garbage")
    if not frames:
        raise ValueError("no Layer I frames")
    return {
        "sample_rate": sr0,
        "channels": ch0,
        "mode": ("stereo", "joint_stereo", "dual_channel", "mono")[mode0],
        "bitrate_kbps": br0,
        "n_frames": len(frames),
        "subbands": np.concatenate(frames, axis=0),
    }


def encode_layer1(
    frames,
    *,
    sample_rate: int = 32000,
    mode: str = "mono",
    mode_extension: int = 0,
    crc: bool = True,
    bitrate_kbps: "int | None" = None,
) -> bytes:
    """Layer I fixture encoder (the decode counterpart — no audio
    library ships here, the :func:`flac.encode_flac` discipline).
    ``frames`` is a list of dicts with ``alloc`` (nch, 32) allocation
    CODES 0–14, ``scf`` (nch, 32) scalefactor indices 0–62, and
    ``codes`` (12, nch, 32) integer sample codes (each < 2^(alloc+1)).
    Joint stereo shares allocation and codes above the bound
    (channel 0's are written). The smallest table bitrate whose frame
    holds the payload is chosen unless ``bitrate_kbps`` pins one;
    remaining slot bits are zero-padded (legal ancillary data)."""
    import numpy as np

    from .flac import _BitWriter

    mode_bits = {"stereo": 0, "joint_stereo": 1, "dual_channel": 2,
                 "mono": 3}[mode]
    nch = 1 if mode == "mono" else 2
    bound = 4 * (mode_extension + 1) if mode == "joint_stereo" else 32
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    out = bytearray()
    for f in frames:
        alloc = np.asarray(f["alloc"], dtype=np.int64).reshape(nch, 32)
        scf = np.asarray(f["scf"], dtype=np.int64).reshape(nch, 32)
        codes = np.asarray(f["codes"], dtype=np.int64).reshape(12, nch, 32)
        if alloc.max() > 14 or alloc.min() < 0:
            raise ValueError("allocation codes are 0..14")
        if nch == 2 and bound < 32 and not (
            alloc[0, bound:] == alloc[1, bound:]
        ).all():
            # the decoder mirrors the shared allocation to both
            # channels (and then expects BOTH channels' scalefactors),
            # so an unmirrored fixture would desync — the encode_layer2
            # validation, r14 review
            raise ValueError("joint stereo shares alloc above bound")
        if scf.max() > 62 or scf.min() < 0:
            raise ValueError("scalefactor indices are 0..62")
        # body bits: alloc + scf + samples
        n_alloc_slots = 32 * nch if bound == 32 else (bound * nch + (32 - bound))
        bits = 4 * n_alloc_slots
        for sb in range(32):
            for ch in range(nch):
                if alloc[ch][sb]:
                    bits += 6
        for sb in range(32):
            chs = range(nch) if sb < bound else (0,)
            for ch in chs:
                if alloc[ch][sb]:
                    bits += 12 * (int(alloc[ch][sb]) + 1)
        need = 4 + (2 if crc else 0) + (bits + 7) // 8
        if bitrate_kbps is None:
            for cand in _BR_TABLE_L1[1:]:
                if (12 * cand * 1000 // sample_rate) * 4 >= need:
                    br = cand
                    break
            else:
                raise ValueError("frame payload exceeds 448 kbps slot")
        else:
            br = bitrate_kbps
        br_idx = _BR_TABLE_L1.index(br)
        frame_len = (12 * br * 1000 // sample_rate) * 4
        if frame_len < need:
            raise ValueError("payload exceeds pinned bitrate's slot")
        h1 = 0xE0 | (0x3 << 3) | (0x3 << 1) | (0 if crc else 1)
        h2 = (br_idx << 4) | (sr_idx << 2)
        h3 = (mode_bits << 6) | ((mode_extension & 0x3) << 4)
        w = _BitWriter()
        for sb in range(32):
            for ch in range(nch if sb < bound else 1):
                w.write(int(alloc[ch][sb]), 4)
        alloc_bytes_end = len(w.bytes())
        for sb in range(32):
            for ch in range(nch):
                if alloc[ch][sb]:
                    w.write(int(scf[ch][sb]), 6)
        for s in range(12):
            for sb in range(32):
                chs = range(nch) if sb < bound else (0,)
                for ch in chs:
                    a = int(alloc[ch][sb])
                    if a:
                        nb = a + 1
                        c = int(codes[s][ch][sb])
                        if not 0 <= c < (1 << nb):
                            raise ValueError("sample code out of range")
                        w.write(c, nb)
        w.align()  # zero bits to the byte edge (ancillary region)
        body = w.bytes()
        frame = bytearray((0xFF, h1, h2, h3))
        if crc:
            prot = bytes((h2, h3)) + body[:alloc_bytes_end]
            frame += crc16(prot, init=0xFFFF).to_bytes(2, "big")
        frame += body
        frame += b"\x00" * (frame_len - len(frame))
        out += frame
    return bytes(out)


# ---------------------------------------------------------------------------
# Layer II (r14): closed-form frame layer, table-gated allocation data
# ---------------------------------------------------------------------------


#: MPEG-1 Layer II bitrate table (kbit/s), ISO 11172-3 Table 2.4.2.3;
#: index 0 = free format (unsupported here), 15 forbidden.
_BR_TABLE_L2 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
                320, 384)

#: Layer II quantization classes that appear in the spec's allocation
#: tables (Table 3-B.2a-d column sets): steps -> grouped?  Grouping
#: (three samples in one base-nlevels code) applies exactly to the
#: 3/5/9-step classes (ISO 11172-3 §2.4.3.3.4).
_L2_GROUPED = frozenset((3, 5, 9))
_L2_NLEVELS = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
               8191, 16383, 32767, 65535)


def layer2_quant(nlevels: int):
    """``(code_bits, grouped, C, D)`` for a Layer II quantization class.

    Table 3-B.4's C and D columns are CLOSED FORMS, not free numeric
    data (verified digit-for-digit against the public libmad
    ``layer12.c`` table for all 17 classes): with ``nb =
    ceil(log2(nlevels))`` per-sample bits,

        C = 2^nb / nlevels
        D = (2^(nb-1) - (nlevels-1)/2) / 2^(nb-1)

    (for the 2^k - 1 classes this collapses to the Layer I shape
    C = 2^k/(2^k - 1), D = 2^(1-k); for the grouped 5/9-step classes
    the unused upper half of the code range pushes D to 1/2).
    ``code_bits`` is the bitstream cost of ONE read: ceil(log2(n^3))
    bits for one grouped triplet (5/7/10 bits), else nb bits for one
    sample."""
    if nlevels not in _L2_NLEVELS:
        raise ValueError(f"not a Layer II quantization class: {nlevels}")
    nb = max(2, (nlevels).bit_length())
    if (1 << nb) < nlevels:
        nb += 1
    # bit_length of nlevels: for 2^k-1 -> k; for 5 -> 3; for 9 -> 4. OK.
    c = (1 << nb) / float(nlevels)
    d = ((1 << (nb - 1)) - (nlevels - 1) / 2.0) / float(1 << (nb - 1))
    grouped = nlevels in _L2_GROUPED
    bits = (nlevels**3 - 1).bit_length() if grouped else nb
    return bits, grouped, c, d


def _requant_l2(code: int, nlevels: int) -> float:
    """Exact Layer II requantization: MSB-invert the nb-bit code (for
    grouped classes the base-nlevels DIGIT), two's-complement
    fraction, then s'' = C * (s''' + D). Closed form throughout."""
    nb = max(2, (nlevels - 1).bit_length())
    v = code ^ (1 << (nb - 1))
    if v & (1 << (nb - 1)):
        v -= 1 << nb
    s3 = v / float(1 << (nb - 1))
    _, _, c, d = layer2_quant(nlevels)
    return c * (s3 + d)


def design_alloc_table():
    """A DETERMINISTIC, CLEARLY NON-SPEC Layer II allocation table for
    fixtures and tests (the Table 3-B.2a-d analogue of
    :func:`design_prototype_window`): ISO's per-(samplerate, bitrate)
    allocation tables are numeric spec data this container does not
    ship and which must not be fabricated from memory. This table has
    the same STRUCTURE the real ones do — an ``sblimit``, and per
    subband an allocation-field width plus the ordered tuple of
    quantization classes its nonzero codes select — and deliberately
    exercises every machinery branch: grouped 3/5/9-step classes,
    ungrouped 7..65535, and 2/3/4-bit allocation fields. Drop a
    transcribed ISO table into the same shape and
    :func:`decode_layer2` / :func:`encode_layer2` are spec-true."""
    wide = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
            8191, 65535)
    mid = (3, 5, 9, 15, 31, 63, 127)
    narrow = (3, 5, 65535)
    rows = []
    for _ in range(4):
        rows.append((4, wide))
    for _ in range(4):
        rows.append((3, mid))
    for _ in range(4):
        rows.append((2, narrow))
    return {"sblimit": 12, "rows": tuple(rows)}


def _check_alloc_table(tab):
    if tab is None:
        raise ValueError(
            "Layer II allocation tables (ISO 11172-3 Tables 3-B.2a-d) "
            "are numeric spec data not shipped here; pass alloc_table= "
            "(design_alloc_table() for fixtures, or a transcription of "
            "the ISO table for real audio)"
        )
    sblimit = tab["sblimit"]
    rows = tab["rows"]
    if not 1 <= sblimit <= 32 or len(rows) != sblimit:
        raise ValueError("alloc table: sblimit/rows mismatch")
    for bits, levels in rows:
        if not 2 <= bits <= 4:
            raise ValueError("alloc table: field width must be 2..4")
        if len(levels) > (1 << bits) - 1:
            raise ValueError("alloc table: more classes than codes")
        for nl in levels:
            if nl not in _L2_NLEVELS:
                raise ValueError(f"alloc table: bad class {nl}")
    return sblimit, rows


def _crc16_bits(crc: int, value: int, nbits: int) -> int:
    """Feed ``nbits`` MSB-first bits into a CRC-16/0x8005 register —
    Layer II's protected region (allocation + scfsi) is not
    byte-aligned, so the byte-table CRC cannot cover it."""
    for i in range(nbits - 1, -1, -1):
        bit = (value >> i) & 1
        hi = (crc >> 15) & 1
        crc = (crc << 1) & 0xFFFF
        if hi ^ bit:
            crc ^= 0x8005
    return crc


def decode_layer2(payload: bytes, alloc_table=None) -> dict:
    """Decode MPEG-1 Layer II frames in ``payload`` to requantized
    SUBBAND samples: ``{sample_rate, channels, mode, bitrate_kbps,
    n_frames, subbands}`` with ``subbands`` shaped
    (n_frames * 36, channels, 32).

    The complete §2.4.3.3 frame layer is here and exact — variable-
    width allocation fields, scfsi-folded scalefactors, grouped
    (base-3/5/9 triplet) and ungrouped sample codes, bit-level CRC-16
    over header+allocation+scfsi, and the closed-form Table 3-B.4
    requantization (:func:`layer2_quant`). What is NOT here is the
    table DATA: ISO picks the allocation table per (samplerate,
    bitrate/channel) from Tables 3-B.2a-d, numeric spec tables that
    neither ship in this container nor can be honestly re-derived —
    so ``alloc_table`` must be supplied (:func:`design_alloc_table`
    for fixtures, or a transcribed ISO table for real audio) and
    ``None`` raises a ValueError naming the missing table, the
    :func:`synthesize_pcm` / Table 3-B.3 discipline."""
    import numpy as np

    if alloc_table is None:
        raise ValueError(
            "Layer II allocation tables (ISO 11172-3 Tables 3-B.2a-d) "
            "are numeric spec data not shipped here; pass alloc_table= "
            "(design_alloc_table() for fixtures, or a transcription of "
            "the ISO table for real audio)"
        )
    sblimit, rows = _check_alloc_table(alloc_table)
    b = bytes(payload)
    pos = _skip_id3v2(b)
    frames = []
    total_samples = 0
    sr0 = ch0 = mode0 = br0 = None
    slot_layout = None
    while pos + 4 <= len(b):
        protected, br, sr, mode, mode_ext, nch, frame_len = _frame_header(
            b, pos, 2
        )
        if pos + frame_len > len(b):
            raise ValueError("MPEG truncated inside frame")
        bound = min(4 * (mode_ext + 1), sblimit) if mode == 1 else sblimit
        if sr0 is None:
            sr0, ch0, mode0, br0 = sr, nch, mode, br
        elif (sr, nch) != (sr0, ch0):
            raise ValueError("MPEG frame parameter change mid-stream")

        # r14: vectorized body decode (the decode_layer1 discipline) —
        # one unpackbits per frame; alloc/scfsi/scf land via fixed- or
        # per-slot-width gathers; the bit-level CRC runs byte-table
        # over the packed protected bit region + one sub-byte tail;
        # samples requantize per allocated slot as (12, 3) vector ops
        # IEEE-identical to the scalar forms.
        body = b[pos : pos + frame_len]
        fbits = np.unpackbits(np.frombuffer(body, np.uint8))
        bp = (4 + (2 if protected else 0)) * 8
        crc_read = int.from_bytes(body[4:6], "big") if protected else None
        if slot_layout is None or slot_layout[0] != bound:
            slot_sb, slot_ch, slot_w, slot_max = [], [], [], []
            for sb in range(sblimit):
                w = rows[sb][0]
                for ch in range(nch if sb < bound else 1):
                    slot_sb.append(sb)
                    slot_ch.append(ch if sb < bound else -1)
                    slot_w.append(w)
                    slot_max.append(len(rows[sb][1]))
            slot_layout = (
                bound,
                np.asarray(slot_sb, np.int64),
                np.asarray(slot_ch, np.int64),
                np.asarray(slot_w, np.int64),
                np.asarray(slot_max, np.int64),
            )
        _, sb_arr, ch_arr, w_arr, max_arr = slot_layout
        nslots = sb_arr.size
        acodes = _bit_fields(fbits, bp, w_arr)
        alloc_bits_total = int(w_arr.sum())
        bp += alloc_bits_total
        if np.any(acodes > max_arr):
            raise ValueError("allocation code beyond table row")
        alloc = np.zeros((nch, 32), np.int64)
        shared = ch_arr < 0
        alloc[:, sb_arr[shared]] = acodes[shared]
        alloc[ch_arr[~shared], sb_arr[~shared]] = acodes[~shared]
        # scfsi: 2-bit fields, wire order sb-major / ch-minor over
        # allocated (sb, ch) — row-major True positions of the mask
        m_mask = alloc[:, :sblimit].T > 0
        n_scfsi = int(m_mask.sum())
        sicodes = _bit_fields_const(fbits, bp, 2, n_scfsi)
        bp += 2 * n_scfsi
        if protected:
            # protected region: header bytes 2-3 + alloc + scfsi bits
            ln = alloc_bits_total + 2 * n_scfsi
            seq = np.concatenate(
                [fbits[16:32], fbits[48 : 48 + ln]]
            )
            whole = (seq.size // 8) * 8
            crc = crc16(np.packbits(seq[:whole]).tobytes(), init=0xFFFF)
            rem = seq.size - whole
            if rem:
                tail = int(
                    seq[whole:].astype(np.int64)
                    @ (1 << np.arange(rem - 1, -1, -1, dtype=np.int64))
                )
                crc = _crc16_bits(crc, tail, rem)
            if crc != crc_read:
                raise ValueError("MPEG CRC-16 mismatch")
        # scalefactors: one per 12-sample third, folded by scfsi
        # (§2.4.3.3.3: 0 -> three transmitted; 1 -> two, first covers
        # thirds 0+1; 3 -> two, second covers thirds 1+2; 2 -> one
        # covers all three)
        ncnt = np.choose(sicodes, [3, 2, 1, 2]) if n_scfsi else sicodes
        total_scf = int(ncnt.sum())
        svals = _bit_fields_const(fbits, bp, 6, total_scf)
        bp += 6 * total_scf
        if np.any(svals == 63):
            raise ValueError("forbidden scalefactor index 63")
        sfv = np.zeros((sblimit, nch, 3))
        if n_scfsi:
            o = np.cumsum(ncnt) - ncnt
            d1 = np.where((sicodes == 0) | (sicodes == 3), 1, 0)
            d2 = np.select(
                [sicodes == 0, sicodes == 1, sicodes == 3], [2, 1, 1], 0
            )
            parts = np.stack(
                [svals[o], svals[o + d1], svals[o + d2]], axis=1
            )
            sf_arr = np.asarray(LAYER1_SF)
            sfv[m_mask] = sf_arr[parts]
        # samples: per-granule field pattern over active slots (grouped
        # classes read ONE base-n triplet code, others three nb-bit
        # codes), tiled over the 12 granules
        act = np.nonzero(acodes)[0]
        gw, fpos, nl_act = [], [], []
        for j in act:
            nl = rows[int(sb_arr[j])][1][int(acodes[j]) - 1]
            bitsj, grouped, _, _ = layer2_quant(nl)
            fpos.append(len(gw))
            nl_act.append(nl)
            if grouped:
                gw.append(bitsj)
            else:
                gw.extend((bitsj, bitsj, bitsj))
        nfg = len(gw)
        codes_g = _bit_fields(
            fbits, bp, np.tile(np.asarray(gw, np.int64), 12)
        ).reshape(12, nfg)
        out = np.zeros((36, nch, 32))
        part36 = np.repeat(np.arange(12) // 4, 3)
        for i, j in enumerate(act):
            nl = nl_act[i]
            _, grouped, cq, dq = layer2_quant(nl)
            if grouped:
                g = codes_g[:, fpos[i]]
                if np.any(g >= nl**3):
                    raise ValueError("grouped code beyond nlevels^3")
                trip = np.stack(
                    [g % nl, (g // nl) % nl, g // (nl * nl)], axis=1
                )
            else:
                trip = codes_g[:, fpos[i] : fpos[i] + 3]
                if np.any(trip >= nl):
                    # the all-ones nb-bit code is unused by an
                    # (2^nb - 1)-step quantizer
                    raise ValueError("sample code beyond nlevels")
            nb = max(2, int(nl).bit_length())
            msb = 1 << (nb - 1)
            v = trip ^ msb
            v = np.where((v & msb) != 0, v - (msb << 1), v)
            vals = (cq * (v / msb + dq)).reshape(36)
            sb = int(sb_arr[j])
            chs = range(nch) if ch_arr[j] < 0 else (int(ch_arr[j]),)
            for cch in chs:
                out[:, cch, sb] = sfv[sb, cch][part36] * vals
        frames.append(out)
        total_samples += out.size
        if total_samples > MPEG_SAMPLE_LIMIT:
            raise ValueError(
                "MPEG decoded-sample ceiling exceeded "
                f"({total_samples} > {MPEG_SAMPLE_LIMIT}) — refusing the "
                "amplification (the FLAC_SAMPLE_LIMIT analogue)"
            )
        pos += frame_len
    if pos != len(b):
        raise ValueError("MPEG trailing garbage")
    if not frames:
        raise ValueError("no Layer II frames")
    return {
        "sample_rate": sr0,
        "channels": ch0,
        "mode": ("stereo", "joint_stereo", "dual_channel", "mono")[mode0],
        "bitrate_kbps": br0,
        "n_frames": len(frames),
        "subbands": np.concatenate(frames, axis=0),
    }


def encode_layer2(
    frames,
    *,
    alloc_table,
    sample_rate: int = 32000,
    mode: str = "mono",
    mode_extension: int = 0,
    crc: bool = True,
    bitrate_kbps: "int | None" = None,
) -> bytes:
    """Layer II fixture encoder (the :func:`encode_layer1` twin).
    ``frames`` is a list of dicts with ``alloc`` (nch, 32) allocation
    CODES into ``alloc_table``'s per-subband class tuples, ``scf``
    (nch, 32, 3) scalefactor indices 0-62 (one per 12-sample third),
    ``scfsi`` (nch, 32) in 0-3 (the encoder writes the folded subset,
    so thirds a scfsi value shares must carry EQUAL scf indices), and
    ``codes`` (36, nch, 32) integer sample codes (< nlevels of the
    selected class; for grouped classes each sample's digit). Joint
    stereo shares allocation and codes above the bound."""
    import numpy as np

    from .flac import _BitWriter

    mode_bits = {"stereo": 0, "joint_stereo": 1, "dual_channel": 2,
                 "mono": 3}[mode]
    nch = 1 if mode == "mono" else 2
    sblimit, rows = _check_alloc_table(alloc_table)
    bound = (min(4 * (mode_extension + 1), sblimit)
             if mode == "joint_stereo" else sblimit)
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    out = bytearray()
    for f in frames:
        alloc = np.asarray(f["alloc"], dtype=np.int64).reshape(nch, 32)
        scf = np.asarray(f["scf"], dtype=np.int64).reshape(nch, 32, 3)
        scfsi = np.asarray(f["scfsi"], dtype=np.int64).reshape(nch, 32)
        codes = np.asarray(f["codes"], dtype=np.int64).reshape(36, nch, 32)
        if scf.max() > 62 or scf.min() < 0:
            raise ValueError("scalefactor indices are 0..62")
        w = _BitWriter()
        # body first (we need its alloc+scfsi bits for the CRC; the
        # CRC also covers header bytes 2-3, folded in below)
        bits_protected = []  # (value, nbits) in wire order
        for sb in range(sblimit):
            bits = rows[sb][0]
            for ch in range(nch if sb < bound else 1):
                a = int(alloc[ch][sb])
                if not 0 <= a <= len(rows[sb][1]):
                    raise ValueError("allocation code beyond table row")
                w.write(a, bits)
                bits_protected.append((a, bits))
            if sb >= bound and nch == 2 and alloc[1][sb] != alloc[0][sb]:
                raise ValueError("joint stereo shares alloc above bound")
        for sb in range(sblimit):
            for ch in range(nch):
                if alloc[ch][sb]:
                    s = int(scfsi[ch][sb])
                    w.write(s, 2)
                    bits_protected.append((s, 2))
        for sb in range(sblimit):
            for ch in range(nch):
                if not alloc[ch][sb]:
                    continue
                si = int(scfsi[ch][sb])
                v = scf[ch][sb]
                if si == 0:
                    send = (v[0], v[1], v[2])
                elif si == 1:
                    if v[0] != v[1]:
                        raise ValueError("scfsi=1 shares thirds 0,1")
                    send = (v[0], v[2])
                elif si == 3:
                    if v[1] != v[2]:
                        raise ValueError("scfsi=3 shares thirds 1,2")
                    send = (v[0], v[1])
                else:
                    if not (v[0] == v[1] == v[2]):
                        raise ValueError("scfsi=2 shares all thirds")
                    send = (v[0],)
                for idx in send:
                    w.write(int(idx), 6)
        for gr in range(12):
            for sb in range(sblimit):
                chs = range(nch) if sb < bound else (0,)
                for ch in chs:
                    a = int(alloc[ch][sb])
                    if not a:
                        continue
                    nlevels = rows[sb][1][a - 1]
                    bits, grouped, _, _ = layer2_quant(nlevels)
                    tr = [int(codes[3 * gr + k][ch][sb]) for k in range(3)]
                    for t in tr:
                        if not 0 <= t < nlevels:
                            raise ValueError("sample code out of range")
                    if grouped:
                        w.write(tr[0] + nlevels * tr[1]
                                + nlevels * nlevels * tr[2], bits)
                    else:
                        for t in tr:
                            w.write(t, bits)
        w.align()
        body = w.bytes()
        need = 4 + (2 if crc else 0) + len(body)
        if bitrate_kbps is None:
            for cand in _BR_TABLE_L2[1:]:
                if 144 * cand * 1000 // sample_rate >= need:
                    br = cand
                    break
            else:
                raise ValueError("frame payload exceeds 384 kbps slot")
        else:
            br = bitrate_kbps
        br_idx = _BR_TABLE_L2.index(br)
        frame_len = 144 * br * 1000 // sample_rate
        if frame_len < need:
            raise ValueError("payload exceeds pinned bitrate's slot")
        h1 = 0xE0 | (0x3 << 3) | (0x2 << 1) | (0 if crc else 1)
        h2 = (br_idx << 4) | (sr_idx << 2)
        h3 = (mode_bits << 6) | ((mode_extension & 0x3) << 4)
        frame = bytearray((0xFF, h1, h2, h3))
        if crc:
            crc_reg = _crc16_bits(_crc16_bits(0xFFFF, h2, 8), h3, 8)
            for v, n in bits_protected:
                crc_reg = _crc16_bits(crc_reg, v, n)
            frame += crc_reg.to_bytes(2, "big")
        frame += body
        frame += b"\x00" * (frame_len - len(frame))
        out += frame
    return bytes(out)


# ---------------------------------------------------------------------------
# filterbank machinery (window-parameterized; see module docstring)
# ---------------------------------------------------------------------------


def _synthesis_matrix():
    """N[i][k] = cos((16+i)(2k+1)π/64), i ∈ [0,64), k ∈ [0,32) —
    ISO 11172-3 §2.4.3.2 matrixing, a pure closed form."""
    import numpy as np

    i = np.arange(64).reshape(64, 1)
    k = np.arange(32).reshape(1, 32)
    return np.cos((16 + i) * (2 * k + 1) * np.pi / 64.0)


def _analysis_matrix():
    """M[i][k] = cos((2i+1)(k−16)π/64), i ∈ [0,32), k ∈ [0,64) —
    the encoder-side twin (§C.1.3)."""
    import numpy as np

    i = np.arange(32).reshape(32, 1)
    k = np.arange(64).reshape(1, 64)
    return np.cos((2 * i + 1) * (k - 16) * np.pi / 64.0)


def design_prototype_window(rolloff: float = 1.0):
    """A DETERMINISTIC, explicitly NON-SPEC stand-in for ISO 11172-3
    Table 3-B.3 (numerically specified, unavailable in this
    container), in the SAME conventions as the real D table — drop the
    ISO coefficients into :func:`synthesize_pcm` /
    :func:`analyze_subbands` and the identical code is spec-true.

    Construction (all derived, no magic numbers): a square-root
    raised-cosine lowpass at the π/64 band split (−3 dB exactly at the
    crossover, which makes the composite analysis+synthesis response
    Σ|H|² flat — the power-complementarity the MPEG pseudo-QMF needs),
    sampled with linear phase at delay 255.5, carrying the D table's
    per-64-block sign alternation and ×64 scale (D[n] = 2·32·h[n]·
    (−1)^(n//64); the derivation that the ISO-structured fast
    algorithm with this window equals the textbook cosine-modulated
    bank h_k[n] = h[n]cos((2k+1)(n−16)π/64), f_k[n] = 64·h[n]·
    cos((2k+1)(n+16)π/64) is pinned by a test against a direct
    convolution implementation). Round-trip error measured <1% RMS on
    broadband signals — proves the machinery, is NOT bit-accurate
    MPEG."""
    import numpy as np

    nfft = 16384
    w = 2 * np.pi * np.fft.fftfreq(nfft)
    wc = np.pi / 64.0
    aw = np.abs(w)
    lo, hi = wc * (1 - rolloff), wc * (1 + rolloff)
    mag = np.zeros(nfft)
    mag[aw <= lo] = 1.0
    band = (aw > lo) & (aw < hi)
    mag[band] = np.sqrt(
        0.5 * (1 + np.cos(np.pi * (aw[band] - lo) / (hi - lo)))
    )
    h = np.fft.ifft(mag * np.exp(-1j * w * 255.5)).real[:512]
    n = np.arange(512)
    return 64.0 * h * (-1.0) ** (n // 64)


def synthesize_pcm(subbands, window=None):
    """Subband samples → PCM via the §2.4.3.2 polyphase synthesis:
    matrixing (closed form), the 1024-value V FIFO, U extraction,
    windowing, 16-fold fold-down. ``subbands`` is (n, channels, 32);
    returns (n·32, channels) float64.

    ``window`` must be the 512-coefficient prototype. Passing None
    raises — the ISO table (11172-3 Table 3-B.3) is numeric spec data
    this container doesn't have; :func:`design_prototype_window` gives
    a deterministic non-spec stand-in for testing the machinery."""
    import numpy as np

    if window is None:
        raise ValueError(
            "synthesize_pcm needs the 512-tap prototype window "
            "(ISO/IEC 11172-3 Table 3-B.3 — numerically specified, no "
            "closed form, not shipped here). Pass the table, or "
            "design_prototype_window() for a deterministic NON-SPEC "
            "stand-in."
        )
    d = np.asarray(window, dtype=np.float64)
    if d.shape != (512,):
        raise ValueError("window must have 512 coefficients")
    sb = np.asarray(subbands, dtype=np.float64)
    n, nch, _ = sb.shape
    nmat = _synthesis_matrix()
    pcm = np.zeros((n * 32, nch))
    for ch in range(nch):
        v = np.zeros(1024)
        for t in range(n):
            v[64:] = v[:-64]
            v[:64] = nmat @ sb[t, ch]
            u = np.empty(512)
            for i in range(8):
                u[64 * i : 64 * i + 32] = v[128 * i : 128 * i + 32]
                u[64 * i + 32 : 64 * i + 64] = v[128 * i + 96 : 128 * i + 128]
            w = u * d
            pcm[32 * t : 32 * t + 32, ch] = w.reshape(16, 32).sum(axis=0)
    return pcm


def analyze_subbands(pcm, window):
    """PCM → subband samples, the §C.1.3 analysis twin (512-sample X
    FIFO, C-windowing with C = window/32, partial sums, matrixing).
    Exists so the synthesis machinery is round-trip TESTABLE without
    any audio library; shares conventions with :func:`synthesize_pcm`
    (same window argument, same closed-form matrices)."""
    import numpy as np

    c = np.asarray(window, dtype=np.float64) / 32.0
    x = np.asarray(pcm, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    nch = x.shape[1]
    n = x.shape[0] // 32
    mmat = _analysis_matrix()
    out = np.zeros((n, nch, 32))
    for ch in range(nch):
        fifo = np.zeros(512)
        for t in range(n):
            fifo[32:] = fifo[:-32]
            # newest 32 samples enter REVERSED (X[0] is the newest)
            fifo[:32] = x[32 * t : 32 * t + 32, ch][::-1]
            z = fifo * c
            y = z.reshape(8, 64).sum(axis=0)
            out[t, ch] = mmat @ y
    return out


# ---------------------------------------------------------------------------
# Spark kernel
# ---------------------------------------------------------------------------

def _mp3_subband_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("mp3_sample_rate", T.IntegerType()),
            T.StructField("mp3_channels", T.IntegerType()),
            T.StructField("mp3_mode", T.StringType()),
            T.StructField("mp3_bitrate_kbps", T.IntegerType()),
            T.StructField("mp3_n_frames", T.IntegerType()),
            T.StructField("sb_active", T.IntegerType()),
            T.StructField("sb_rms", T.DoubleType()),
            T.StructField("sb_peak", T.DoubleType()),
        ]
    )


def extract_mp3_subband_features(media, layer: int = 1, alloc_table=None):
    """Arrow-batched mapInPandas kernel over (media_id, payload):
    MPEG-1 audio frame-layer decode (:func:`decode_layer1`, or
    :func:`decode_layer2` with ``layer=2`` and its required
    ``alloc_table``) → subband-domain features — sample rate /
    channels / mode / bitrate / frame count, the count of subbands
    carrying signal, and the RMS / peak of the requantized subband
    samples (exact closed forms of the fixture's (alloc, code, scf)
    triples — the mm_media_features oracle tiers).
    Undecodable payloads yield NULL feature columns, never a throw
    (the crawl-garbage contract every media kernel follows)."""
    import numpy as np
    import pandas as pd

    if layer not in (1, 2):
        raise ValueError("layer must be 1 or 2")
    if layer == 2:
        _check_alloc_table(alloc_table)  # fail at plan time, not in tasks

    schema = _mp3_subband_schema()

    def batches(it):
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    raw = bytes(payload) if payload is not None else b""
                    d = (
                        decode_layer1(raw)
                        if layer == 1
                        else decode_layer2(raw, alloc_table)
                    )
                    sb = d["subbands"]
                    rows.append(
                        (
                            mid,
                            d["sample_rate"],
                            d["channels"],
                            d["mode"],
                            d["bitrate_kbps"],
                            d["n_frames"],
                            int((np.abs(sb) > 0).any(axis=(0, 1)).sum()),
                            float(np.sqrt((sb * sb).mean())),
                            float(np.abs(sb).max()),
                        )
                    )
                except Exception:
                    rows.append((mid,) + (None,) * 8)
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return media.select("media_id", "payload").mapInPandas(batches, schema)
