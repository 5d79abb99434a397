"""Perceptual image hashing + near-duplicate detection (r12, reworked r13).

The image-side analog of the text dedup family (``dedup/minhash.py``):
a DCT perceptual hash per image payload, then an EXACT-recall banded
self-join for hamming-distance near-dups — image dedup that survives
re-encoding (PNG vs BMP vs baseline-vs-progressive JPEG of the same
pixels hash identically or near-identically), brightness shifts, and
resampling, the transformations crawl pipelines actually see.

Spark-first shape: hashing is one Arrow-batched ``mapInPandas`` pass
over the payload column (the heavy work is the decoders already in
:mod:`.media`); candidate generation is a BANDED equi-join — split the
hash bits into ``max_distance + 1`` bands, join on (band index, band
key). By pigeonhole, two hashes within hamming distance d ≤
``max_distance`` differ in at most d bands, so at least one of the
d + 1 bands matches exactly: recall is 1.0 BY CONSTRUCTION, not
probabilistic (unlike MinHash banding, whose S-curve only approaches
it). The hamming filter itself is JVM-side ``bit_count(a ^ b)`` —
whole-stage-codegen, no UDF.

**The candidate-volume model (r13 — corrects the r12 docstring, which
claimed "corpus-linear" unconditionally).** On N hashes the banded
self-join emits, per band of width w, ≈ N²/2^(w+1) candidate pairs
when hashes are uniform (real pHashes are WORSE — natural images
concentrate in hash space). Summed over d+1 bands the pre-filter
volume is ≈ (d+1)·N²/2^(w+1): quadratic in N with the band width as
the only brake. A 64-bit hash at the old default d=10 gives 5-6-bit
bands (≤ 64 distinct keys per band) — ≈ 0.1·N², all-pairs in
disguise. Two levers restore corpus-scale behavior, both provided
here:

- **Width** (:func:`phash256`, ``attach_phash(..., nbits=256)``): a
  256-bit hash (16×16 low-frequency DCT block) makes d=10 bands
  23 bits wide — ≈ 11·N²/2^24 ≈ N²/1.5M pre-filter pairs, 10⁵×
  fewer than 64-bit d=10, while ranking MORE structure per image.
- **A fail-fast volume guard** (the ``similarity/semdedup.py``
  ``max_grid_tasks`` discipline): :func:`phash_near_dups` computes the
  EXACT pre-filter candidate count — Σ over band buckets of
  C(bucket, 2), one cheap aggregation over the (two-column) hash
  frame — before building the join, and refuses with an error naming
  the remedies (wider hash / smaller ``max_distance`` / explicit
  higher ceiling) when it exceeds ``max_candidate_pairs``. A 100 TB
  corpus dies loudly at plan time, not silently in a 10¹³-pair
  shuffle.

The 64-bit default ``max_distance`` is 3 accordingly (16-bit bands —
the widest distance whose 64-bit banding stays sane); d up to 10
belongs to the 256-bit hash.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .media import _PNG_SIG, _dct_basis_n, parse_bmp, parse_gif, parse_jpeg, parse_png

#: downsample target and retained low-frequency block (the classic
#: pHash geometry: 32x32 luma -> 2D DCT -> low block -> median bits).
#: 8x8 -> 64 bits; 16x16 -> 256 bits (the corpus-scale variant).
_RESAMPLE = 32
_LOWFREQ = 8
_LOWFREQ_WIDE = 16


def _decode_gray(payload: bytes):
    """Decode any pixel-tier image format to a float64 luma plane, or
    None for metadata-only / corrupt payloads. 16-bit PNG scales to the
    8-bit range so the same pixels hash identically across depths."""
    b = bytes(payload)
    try:
        if b[:8] == _PNG_SIG:
            px = parse_png(b)["pixels"]
        elif b[:3] == b"\xff\xd8\xff":
            px = parse_jpeg(b)["pixels"]
        elif b[:2] == b"BM":
            px = parse_bmp(b)["pixels"]
        elif b[:6] in (b"GIF87a", b"GIF89a"):
            px = parse_gif(b)["pixels"]
        else:
            px = None
    except Exception:
        px = None  # crawl-garbage contract
    return None if px is None else gray_plane(px)


def gray_plane(px):
    """float64 luma plane from a decoded (h, w[, c]) pixel array —
    shared by the standalone hashers and the one-pass combined
    extractor (media.extract_image_profile), which decodes ONCE and
    feeds the same pixels to metadata and pHash. 16-bit sources scale
    to the 8-bit range so the same image hashes identically across
    depths."""
    import numpy as np

    if px.dtype == np.uint16:
        px = (px >> 8).astype(np.uint8)
    f = px.astype("float64")
    if f.ndim == 2:
        return f
    if f.shape[2] == 1:
        return f[..., 0]
    # RGB(A): ITU-R 601 luma; alpha is not signal
    return 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]


def _low_dct_block(gray, low: int):
    """Nearest-sample the luma plane to 32x32 (deterministic — no float
    resampling kernel to disagree about), 2D DCT-II, return the
    ``low x low`` low-frequency block."""
    import numpy as np

    h, w = gray.shape
    r = (np.arange(_RESAMPLE) * h) // _RESAMPLE
    c = (np.arange(_RESAMPLE) * w) // _RESAMPLE
    g = gray[np.ix_(r, c)]
    a = _dct_basis_n(_RESAMPLE)
    return (a @ g @ a.T)[:low, :low]


def _bits_to_words(bits) -> list:
    """Pack a row-major bit vector (MSB first) into signed int64 words
    (np.packbits — the r12 Python-loop nit)."""
    import numpy as np

    words = np.packbits(bits).reshape(-1, 8)
    out = []
    for w in words:
        v = int.from_bytes(w.tobytes(), "big")
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return out


def phash_from_gray(gray, *, low: int = _LOWFREQ) -> "list | None":
    """DCT pHash words from an already-decoded luma plane: threshold
    each coefficient of the ``low x low`` block at the block's median.
    Bit i (row-major, MSB first) is 1 when coefficient i exceeds the
    median — a constant shift in brightness moves only the DC
    coefficient, so near-identical images land within a few bits.
    Returns ``low²/64`` signed int64 words, MSB-first."""
    import numpy as np

    if gray is None or gray.size == 0:
        return None
    blk = _low_dct_block(gray, low)
    med = float(np.median(blk))
    return _bits_to_words((blk > med).reshape(-1))


def phash64(payload: bytes):
    """64-bit perceptual hash of an image payload (8x8 low block), or
    None when no pixel tier decodes it; one signed LongType value."""
    w = phash_from_gray(_decode_gray(payload), low=_LOWFREQ)
    return None if w is None else w[0]


def phash256(payload: bytes):
    """256-bit perceptual hash (16x16 low block) as four signed int64
    words, MSB-first, or None when no pixel tier decodes it. The
    corpus-scale variant: 4x the bits makes banded near-dup candidate
    generation ~10⁵× sparser at d=10 (see the module volume model)
    while retaining strictly more image structure than the 64-bit
    hash."""
    return phash_from_gray(_decode_gray(payload), low=_LOWFREQ_WIDE)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)

PHASH256_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.ArrayType(T.LongType())),
    ]
)


def attach_phash(media: DataFrame, *, nbits: int = 64) -> DataFrame:
    """mapInPandas pHash over payload batches → (media_id, phash), NULL
    for undecodable rows (the standard crawl-garbage contract).
    ``nbits=64`` emits a LongType column; ``nbits=256`` an
    array<long> of 4 words (the corpus-scale hash — see the module
    volume model)."""
    if nbits not in (64, 256):
        raise ValueError(f"nbits must be 64 or 256, got {nbits}")
    low = _LOWFREQ if nbits == 64 else _LOWFREQ_WIDE

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(p):
            w = (
                phash_from_gray(_decode_gray(bytes(p)), low=low)
                if p is not None
                else None
            )
            if w is None:
                return None
            return w[0] if nbits == 64 else w

        for pdf in it:
            # object dtype: hashes mixed with NULLs would infer float64
            # and round the 64-bit words
            hashes = pd.Series(
                [one(p) for p in pdf["payload"]], index=pdf.index, dtype=object
            )
            yield pd.DataFrame({"media_id": pdf["media_id"], "phash": hashes})

    schema = PHASH_SCHEMA if nbits == 64 else PHASH256_SCHEMA
    return media.select("media_id", "payload").mapInPandas(batches, schema)


def _signed_mask(width: int) -> int:
    m = (1 << width) - 1
    return m - (1 << 64) if m >= (1 << 63) else m


def _band_key_expr(words, off: int, width: int):
    """JVM-side expression packing hash bits [off, off+width) — global
    bit 0 is the MSB of word 0 — into one long band key. ``words`` is
    either the name of an array<long> column (words fetched via
    ``element_at``) or a list of per-word LongType column names (the
    r15 flat-word path: no array allocation in the banded frame, so
    the exchange rows are pure fixed-width longs). Exact (injective)
    packing whenever width ≤ 63; wider bands (only max_distance ≤ 3 on
    the 256-bit hash) fold their word pieces with xor-rotates, which
    can only ADD collisions — extra candidates the bit_count filter
    removes, never a missed pair, so exact recall is preserved either
    way. Pure shifts/and/xor: no overflow surface under ANSI mode,
    whole-stage-codegen throughout."""

    def word(wi: int):
        if isinstance(words, str):
            return F.element_at(F.col(words), wi + 1)
        return F.col(words[wi])

    pieces = []
    p = off
    while p < off + width:
        wi = p // 64
        start = p % 64  # MSB-first offset within the word
        take = min(64 - start, off + width - p)
        shift = 64 - start - take  # right-align the piece
        col = word(wi)
        piece = F.shiftrightunsigned(col, shift) if shift else col
        if take < 64:
            piece = piece.bitwiseAND(F.lit(_signed_mask(take)))
        pieces.append((piece, p - off, take))
        p += take
    if width <= 63:
        # exact: piece at band-local offset o, width t occupies band
        # bits [o, o+t) MSB-first -> left shift by width - o - t
        key = None
        for piece, o, t in pieces:
            sh = width - o - t
            term = F.shiftleft(piece, sh) if sh else piece
            key = term if key is None else key.bitwiseOR(term)
        return key
    # wide band: xor-rotate fold (collisions only add candidates)
    key = None
    for i, (piece, _, _) in enumerate(pieces):
        rot = (i * 29) % 64
        term = (
            piece
            if rot == 0
            else F.shiftleft(piece, rot).bitwiseOR(
                F.shiftrightunsigned(piece, 64 - rot)
            )
        )
        key = term if key is None else key.bitwiseXOR(term)
    return key


def _banded_frame(
    h0: DataFrame,
    id_col: str,
    hash_col: str,
    nbits: int,
    max_distance: int,
):
    """The shared banding projection (r15 flat-word layout —
    PHASH_BENCH_r14 found the 256-bit path 3.3× slower than 64-bit at
    1.6M images; the cost was the banded explode shuffling an
    array<long> per row): split the hash into per-word LongType
    columns BEFORE banding and posexplode only the band-key longs, so
    every exchange row is fixed-width longs (no array headers, no
    per-row allocation) and downstream distance terms stay inside
    whole-stage codegen. Returns ``(banded_df, word_cols,
    base_band_width)``; ``banded_df`` columns are ``id``, the word
    columns, ``band_idx``, ``band_key``."""
    is_array = isinstance(h0.schema[hash_col].dataType, T.ArrayType)
    nwords = nbits // 64
    word_cols = [f"__w{i}" for i in range(nwords)]
    if is_array:
        flat = h0.select(
            F.col(id_col).alias("id"),
            *[
                F.element_at(F.col(hash_col), i + 1).alias(c)
                for i, c in enumerate(word_cols)
            ],
        )
    else:
        flat = h0.select(
            F.col(id_col).alias("id"), F.col(hash_col).alias(word_cols[0])
        )
    nbands = max_distance + 1
    base, extra = divmod(nbits, nbands)
    band_keys = []
    offset = 0
    for i in range(nbands):
        width = base + (1 if i < extra else 0)
        band_keys.append(_band_key_expr(word_cols, offset, width))
        offset += width
    h = flat.select(
        "id",
        *word_cols,
        F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key"),
    )
    return h, word_cols, base


def _hamming_dist(word_cols: "list[str]", suffix: str = "_b"):
    """Static per-word ``bit_count(xor)`` sum — full codegen, no
    higher-order-function lambdas."""
    dist = None
    for c in word_cols:
        term = F.bit_count(F.col(c).bitwiseXOR(F.col(f"{c}{suffix}")))
        dist = term if dist is None else dist + term
    return dist


def phash_near_dups(
    hashes: DataFrame,
    *,
    max_distance: int = 3,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_candidate_pairs: "float | None" = 1e10,
    nbits: "int | None" = None,
    cleanup: "list | None" = None,
) -> DataFrame:
    """Hamming near-dup pairs over an (id, hash) frame with EXACT
    recall: ``max_distance + 1`` bands partition the hash bits, so any
    pair within distance d ≤ max_distance shares at least one whole
    band (pigeonhole) and surfaces in the banded equi-join; the
    JVM-side ``bit_count(xor)`` (summed across words for the 256-bit
    hash) then filters to true distance. Accepts a LongType hash
    (:func:`phash64`) or an array<long> (:func:`phash256`). Returns
    ``(id_a, id_b, distance)`` with id_a < id_b, each pair once.

    Candidate volume is QUADRATIC in corpus size with the band width as
    the only brake (module docstring has the model — the r12 claim of
    unconditional corpus-linearity was wrong). Two safeguards:

    - the 64-bit default is ``max_distance=3`` (16-bit bands); larger
      radii belong to the 256-bit hash, whose d=10 bands are 23 bits;
    - ``max_candidate_pairs`` (semdedup ``max_grid_tasks`` discipline):
      before building the join this runs ONE aggregation over the hash
      frame computing the EXACT pre-filter candidate count
      (Σ_buckets C(n, 2) over band buckets) and raises ValueError
      naming the remedies when it exceeds the ceiling — a refusal at
      plan time instead of a doomed 10¹³-pair shuffle. Pass None to
      skip the (eager) guard job on trusted inputs.

    Eagerness (r13 ADVICE): two construction-time jobs can fire —
    a 1-row array-width probe (array hashes only; pass ``nbits``
    explicitly, e.g. 256 from :func:`attach_phash`, to skip it) and
    the volume guard. When the guard runs, the banded frame is
    persisted first so the upstream hash lineage executes ONCE — the
    guard aggregation materializes it and the self-join (which reads
    it twice) reuses the cache instead of re-decoding expensive
    inputs three times. Pass a ``cleanup`` list to receive the
    persisted frame — unpersist its members once your consuming action
    has run (r14 ADVICE: repeated invocations otherwise accumulate
    cached decode output and lean on LRU eviction); without it the
    persist is left in place for the consumer. With
    ``max_candidate_pairs=None`` and explicit ``nbits`` the function
    is fully lazy and callers managing their own caching get the
    plain plan.

    Plan shape at 100 TB: one projection builds (band_idx, band_key)
    rows (64-bit shifts, no UDF), the self-join shuffles on the
    compound band key, and the distance filter runs inside codegen
    before the distinct.
    """
    is_array = isinstance(
        hashes.schema[hash_col].dataType, T.ArrayType
    )
    h0 = hashes.where(F.col(hash_col).isNotNull())
    if not is_array:
        nbits = 64
    elif nbits is None:
        # array width isn't in the schema — one bounded 1-row probe
        # (the semdedup dim-probe shape); an empty frame yields empty.
        # Callers that know the width (attach_phash emits 64 or 256)
        # pass nbits= and stay lazy (r13 ADVICE).
        nwords_row = (
            h0.select(F.size(hash_col).alias("n")).limit(1).collect()
        )
        if not nwords_row:
            return hashes.sparkSession.createDataFrame(
                [], "id_a long, id_b long, distance integer"
            )
        nbits = 64 * nwords_row[0]["n"]
    if not 0 <= max_distance < nbits:
        raise ValueError(f"max_distance must be in [0, {nbits})")
    # r15 flat-word layout (PHASH_BENCH_r14 found the 256-bit path 3.3×
    # slower than 64-bit at 1.6M images — the cost was the banded
    # explode shuffling an array<long> per row): split the hash into
    # per-word LongType columns BEFORE banding, posexplode only the
    # band-key longs, and sum per-word bit_count(xor) terms statically.
    # Every exchange row is fixed-width longs (no array headers, no
    # per-row allocation) and the distance filter stays inside
    # whole-stage codegen end to end.
    h, word_cols, base = _banded_frame(
        h0, id_col, hash_col, nbits, max_distance
    )

    if max_candidate_pairs is not None:
        # persist the narrow banded frame so the guard job below
        # materializes the hash lineage ONCE and the self-join (two
        # reads) hits the cache instead of re-running expensive
        # upstream decodes (r13 ADVICE)
        h = h.persist()
        if cleanup is not None:
            cleanup.append(h)
        # exact pre-filter join volume, one cheap job over the
        # all-longs frame: Σ over (band, key) buckets of C(n, 2)
        vol_row = (
            h.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).cast("double").alias("n"))
            .agg(
                F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs")
            )
            .collect()
        )
        vol = float(vol_row[0]["pairs"] or 0.0)
        if vol > float(max_candidate_pairs):
            h.unpersist()
            raise ValueError(
                f"phash_near_dups: banded join would emit ~{vol:.3g} "
                f"candidate pairs (> max_candidate_pairs="
                f"{float(max_candidate_pairs):.3g}) at nbits={nbits}, "
                f"max_distance={max_distance} (band width ~{base} bits)."
                " Remedies: use the 256-bit hash (attach_phash(..., "
                "nbits=256) / phash256) whose bands are 4x wider; lower "
                "max_distance; or raise/disable max_candidate_pairs if "
                "this volume is genuinely intended."
            )

    right = h.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in word_cols],
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_key").alias("band_key_b"),
    )
    dist = _hamming_dist(word_cols)
    pairs = (
        h.join(
            right,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_key") == F.col("band_key_b"))
            & (F.col("id") < F.col("id_b")),
        )
        .select(
            F.col("id").alias("id_a"),
            "id_b",
            dist.alias("distance"),
        )
        .where(F.col("distance") <= max_distance)
        .distinct()
    )
    return pairs


def phash_near_dups_between(
    left: DataFrame,
    right: DataFrame,
    *,
    max_distance: int = 3,
    id_col: str = "media_id",
    hash_col: str = "phash",
    nbits: "int | None" = None,
) -> DataFrame:
    """Hamming near-dup pairs ACROSS two (id, hash) frames — the
    image twin of ``dedup.minhash.minhash_candidate_pairs_between``,
    built for the streaming incremental image dedup (match a
    micro-batch's hashes against the accumulated store). Same
    pigeonhole banding as :func:`phash_near_dups` (recall 1.0 by
    construction), same flat-word plan shape; no ``id <`` constraint
    because the two sides are disjoint populations by contract.
    Returns ``(id_l, id_r, distance)``, each cross pair once.

    Fully lazy when ``nbits`` is given (both frames must share the
    hash width); the per-micro-batch volume guard belongs to the
    caller — streaming batches are bounded by the trigger size, and
    the store side joins via the band keys, so cost tracks candidate
    collisions, not |store|.
    """
    l0 = left.where(F.col(hash_col).isNotNull())
    r0 = right.where(F.col(hash_col).isNotNull())
    if nbits is None:
        if not isinstance(left.schema[hash_col].dataType, T.ArrayType):
            nbits = 64
        else:
            probe = l0.select(F.size(hash_col).alias("n")).limit(1).collect()
            if not probe:
                return left.sparkSession.createDataFrame(
                    [], "id_l long, id_r long, distance integer"
                )
            nbits = 64 * probe[0]["n"]
    if not 0 <= max_distance < nbits:
        raise ValueError(f"max_distance must be in [0, {nbits})")
    hl, word_cols, _ = _banded_frame(l0, id_col, hash_col, nbits, max_distance)
    hr, _, _ = _banded_frame(r0, id_col, hash_col, nbits, max_distance)
    hr = hr.select(
        F.col("id").alias("id_r"),
        *[F.col(c).alias(f"{c}_r") for c in word_cols],
        F.col("band_idx").alias("band_idx_r"),
        F.col("band_key").alias("band_key_r"),
    )
    dist = _hamming_dist(word_cols, suffix="_r")
    return (
        hl.join(
            hr,
            (F.col("band_idx") == F.col("band_idx_r"))
            & (F.col("band_key") == F.col("band_key_r")),
        )
        .select(
            F.col("id").alias("id_l"),
            "id_r",
            dist.alias("distance"),
        )
        .where(F.col("distance") <= max_distance)
        .distinct()
    )


def canonical_images(
    hashes: DataFrame,
    *,
    max_distance: int = 3,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_candidate_pairs: "float | None" = 1e10,
    nbits: "int | None" = None,
) -> DataFrame:
    """(id, canonical_id) for every image in a pHash near-dup pair —
    the IMAGE twin of ``dedup.cluster.canonical_documents`` (r13
    verdict item #1): :func:`phash_near_dups` emits the edges and
    min-label ``connected_components`` resolves transitive clusters,
    so PNG / progressive-JPEG / BMP / 16-bit re-encodings of the same
    pixels (whose pHashes sit within ``max_distance``) collapse to one
    survivor, the cluster's minimum id. Images in no pair are their
    own canonicals and are simply absent here; attach corpus-wide with
    a left join + coalesce (or use :func:`image_survivors`).

    At 100 TB the edge table is tiny next to the corpus (pairs inside
    the banded-join volume guard), the component iteration runs on
    that small edge set only, and the survivor join back is one
    key-partitioned (or broadcast) join — the same shape as the text
    pipeline's cluster stage.
    """
    from ..dedup.cluster import connected_components

    held: list = []
    pairs = phash_near_dups(
        hashes,
        max_distance=max_distance,
        id_col=id_col,
        hash_col=hash_col,
        max_candidate_pairs=max_candidate_pairs,
        nbits=nbits,
        cleanup=held,
    )
    comps = connected_components(pairs, "id_a", "id_b")
    # connected_components is EAGER (it localCheckpoints the edge set and
    # every label round), so the banded frame's cache has served both its
    # consumers by now — release it instead of leaning on LRU eviction
    # (r14 ADVICE)
    for frame in held:
        frame.unpersist()
    return comps.select(
        F.col("id").alias(id_col), F.col("component").alias("canonical_id")
    )


def image_survivors(
    media: DataFrame,
    *,
    max_distance: int = 3,
    use_256: bool = False,
    id_col: str = "media_id",
    max_candidate_pairs: "float | None" = 1e10,
    cleanup: "list | None" = None,
) -> DataFrame:
    """The full image-dedup capstone in one call: ``(media_id,
    payload)`` rows → ONE decode pass (``extract_image_profile``:
    meta + byte features + both hash widths) → banded near-dup join →
    connected components → keep each cluster's canonical survivor
    plus every undecodable-or-unpaired image. Returns the profile
    columns for the surviving rows (payloads can be re-attached by id).

    ``use_256`` switches to the 256-bit hash (wider bands — the scale
    remedy when the volume guard refuses a 64-bit radius). Undecodable
    payloads (``phash`` NULL) are kept: dedup must never silently drop
    what it cannot read — downstream quality filters own that call.

    The decoded profile stays persisted because the RETURNED frame
    reads it; pass a ``cleanup`` list to receive it and unpersist once
    your consuming action has run (r14 ADVICE — repeated invocations,
    e.g. bench reps, otherwise accumulate cached decode output).
    """
    from .media import extract_image_profile

    # the profile (narrow: meta + features + hashes, NO payloads) is
    # read twice — hash input and the survivor keep-join — and its
    # lineage contains the decode pass; persist so payloads decode ONCE
    prof = extract_image_profile(media).persist()
    if cleanup is not None:
        cleanup.append(prof)
    hash_col, nbits = ("phash256", 256) if use_256 else ("phash", 64)
    canon = canonical_images(
        prof.where(F.col(hash_col).isNotNull()).select(id_col, hash_col),
        max_distance=max_distance,
        id_col=id_col,
        hash_col=hash_col,
        max_candidate_pairs=max_candidate_pairs,
        nbits=nbits,
    )
    return (
        prof.join(canon, on=id_col, how="left")
        .where(
            F.col("canonical_id").isNull()
            | (F.col("canonical_id") == F.col(id_col))
        )
        .drop("canonical_id")
    )
