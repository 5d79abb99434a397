"""MinHash + LSH near-duplicate detection, Spark-first.

Pipeline: word shingles → crc32 base hash (JVM built-in) → k seeded
affine permutations min-reduced per doc → band keys → bucket self-join →
candidate pairs with estimated Jaccard.

Scale shape: one explode (docs × shingles), one groupBy(doc) for
signatures, one groupBy(band) join for candidates. No Python in the row
path; permutation constants are plan literals. Band buckets are the
classic LSH guarantee: two docs with Jaccard ≥ t collide in ≥1 band with
probability 1-(1-t^r)^b.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textops.analysis import tokens

# prime just above 2^32 (crc32 range)
_MERSENNE_P = 4294967311
# permutation multipliers stay < 2^31 so crc32 (< 2^32) × a < 2^63 — no
# signed-64 overflow inside the JVM arithmetic
_A_MAX = 2**31

# signature-spread ladder (r16): rows per python task for the arrow
# kernel's parallelism repartition. The r15 fixed defaultParallelism
# spread anti-scaled at bench SF (5000 docs → 32 tasks of ~156 rows:
# per-task dispatch overhead dominated; the driver's 8-core run beat the
# 32-core run 2.6×). Measured ladder at sf0.1 (tools/profile_r16.py):
# 1 part 1.16s / 2 0.66 / 4 0.52 / 8 0.43 / 16 0.51 / 32 0.62 — minimum
# at ~625 rows/task, flat 4-16. 512 keeps every sf near the flat bottom
# and the defaultParallelism cap restores full width at corpus scale
# (the same rows_per_task-capped-at-par shape as the mm tier ladder,
# queries.py _mm_tier_frames.parts()).
_SPREAD_ROWS_PER_TASK = 512


def _spread_parts(n_rows: int, parallelism: int) -> int:
    """Partition count for the raw-row parallelism spread: corpus-derived
    (ceil(n / _SPREAD_ROWS_PER_TASK)), capped at ``parallelism``, floor 2."""
    return max(2, min(parallelism, -(-n_rows // _SPREAD_ROWS_PER_TASK)))


def _permutation_constants(k: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _A_MAX), rng.randrange(0, _A_MAX)) for _ in range(k)]


def banding_recall(threshold: float, bands: int, rows: int) -> float:
    """Probability a pair with TRUE Jaccard ``threshold`` collides in at
    least one of ``bands`` bands of ``rows`` signature positions each —
    the classic LSH S-curve ``1 - (1 - t^r)^b`` (Mining of Massive
    Datasets §3.4). Pairs above the threshold are caught with strictly
    higher probability, so this is the recall FLOOR over everything a
    ≥-threshold scorer keeps."""
    return 1.0 - (1.0 - threshold**rows) ** bands


def pick_bands(
    threshold: float,
    num_hashes: int = 64,
    min_recall: float = 0.99,
) -> int:
    """Band count for a target Jaccard ``threshold``: the SMALLEST
    divisor ``b`` of ``num_hashes`` with ``banding_recall(threshold, b,
    num_hashes//b) ≥ min_recall``.

    Why smallest: candidate volume grows monotonically with ``b`` (more
    band rows enter the bucket join AND each band gets shorter, so
    buckets collide more) — r5's DEDUP_BENCH measured banding as THE
    floor control (r=8 collapsed mult-8 candidates 86.1M → 42,803,
    506.5s → 103.9s). So the scale-right choice is the most selective
    banding that still meets the recall contract at the boundary, not a
    hand-picked constant: callers state the threshold they score at and
    the recall they need, and the S-curve inversion does the rest.
    Falls back to ``b = num_hashes`` (r=1 — the maximum-recall banding)
    when no divisor meets ``min_recall``; raise ``num_hashes`` if that
    happens at a high threshold."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    divisors = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
    for b in divisors:
        if banding_recall(threshold, b, num_hashes // b) >= min_recall:
            return b
    return num_hashes


def shingles(text_col, n: int = 3):
    """Word n-gram shingles as array<string> (documents shorter than n
    words yield their full token string as a single shingle).

    NOTE: ``text_col`` is tokenized inline, and the slice lambda re-evaluates
    its argument per shingle position — pass an already-materialized token
    ARRAY column (see ``shingles_of_tokens``) in hot paths."""
    return shingles_of_tokens(tokens(text_col), n)


def shingles_of_tokens(t, n: int = 3):
    """Word n-gram shingles from an array<string> token column.

    Per-position construction is ``n`` O(1) ``element_at`` lookups + one
    concat — ~2.5× cheaper in interpreted HOF eval than ``slice`` +
    ``concat_ws``, which copies an intermediate array per position."""
    return F.when(
        F.size(t) <= n,
        F.array(F.concat_ws(" ", t)),
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j + 1) for j in range(n)]
                ),
            )
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "crc32",
    engine: str = "arrow",
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, signature array<long>[num_hashes]) per document.

    ``tokens_col`` (arrow engine only): name of a column already holding
    the token array — skips the tokenize pass. At ``shingle_n=1`` a
    caller may pass the DISTINCT token set: the unigram shingle set (and
    hence the signature) is the same for any token array with that set
    (``shingles_of_tokens`` emits the distinct tokens for size ≥ 2 and
    the single/empty token join below, all order-invariant — the r15
    collapsed pipeline's equivalence argument, ``dedup/pipeline.py``).

    ``hash_fn``: "crc32" (default, JVM-native) or "md5" (portable 32-bit
    base hash == DuckDB ``md5_number_lower & 0xFFFFFFFF`` — makes the
    whole signature, banding, and est-jaccard pipeline replicable in SQL;
    see the oracle-checked catalog entry). Permutation arithmetic is
    exact signed-64 either way.

    ``engine``:

    - "arrow" (default): signatures are row-local, so no shuffle is
      needed at all — one JVM projection computes the per-shingle base
      hashes, then a numpy pandas UDF min-reduces the ``num_hashes``
      affine permutations per document (``np.minimum.reduceat`` over the
      flattened batch). The only exchange is an optional round-robin
      spread of the *raw* (id, text) rows for single-file local inputs;
      on a real cluster the parquet scan splits already provide
      parallelism and that spread is skipped work, not a correctness
      need. Without ``tokens_col``, sizing that spread runs
      ``df.count()`` while this function builds the plan, before any
      caller action: a Spark job over ``df``'s whole plan (for a derived
      frame, its whole upstream pipeline; only a parquet scan answers
      from metadata), counting rows whose NULL text the plan drops
      later. Materialise a derived ``df`` first to pay that once.
    - "agg": the explode → groupBy(id) 64-min-agg formulation (kept as
      the whole-stage-codegen reference; equality is pinned in
      tests/test_dedup.py). Shuffles the token arrays once.

    Both engines produce bit-identical signatures: same base hash, same
    ``(x*a + b) % p`` signed-64 arithmetic (numpy int64 == JVM long —
    operands bounded by 2^63 by construction, see ``_A_MAX``).
    Documents whose text is NULL yield no signature row in either
    engine (the agg engine drops them at explode; the arrow engine
    filters NULL shingle arrays to match).
    """
    consts = _permutation_constants(num_hashes, seed)
    if engine == "arrow":
        return _minhash_signatures_arrow(
            df, text_col, id_col, consts, shingle_n, hash_fn, tokens_col
        )
    if tokens_col is not None:
        raise ValueError("tokens_col is only supported by the arrow engine")
    # Tokenize BEFORE the exchange: the shingle slice-lambda re-evaluates
    # its input per shingle position, so it must reference a materialized
    # array attribute, not the regex split (measured 8× on sf0.1 docs).
    # The repartition doubles as the parallelism spread — small single-file
    # inputs arrive as one partition — and as a collapse barrier.
    tok = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    sh = tok.select(
        F.col(id_col),
        F.explode(shingles_of_tokens(F.col("__toks"), shingle_n)).alias("shingle"),
    )
    if hash_fn == "md5":
        from ..functions.hashing import md5_hash32

        base = sh.select(id_col, md5_hash32(F.col("shingle")).alias("x"))
    else:
        base = sh.select(id_col, F.crc32(F.col("shingle")).alias("x"))
    mins = base.groupBy(id_col).agg(
        *[
            F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(consts)
        ]
    )
    return mins.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature")
    )


def _minhash_signatures_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    consts: list[tuple[int, int]],
    shingle_n: int,
    hash_fn: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """Zero-shuffle signature build: JVM shingle hashes → numpy min-reduce."""
    from pyspark.sql import types as T

    a_arr = np.array([a for a, _ in consts], dtype=np.int64)
    b_arr = np.array([b for _, b in consts], dtype=np.int64)
    k = len(consts)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(xs: pd.Series) -> pd.Series:
        lens = np.fromiter((len(v) for v in xs), dtype=np.int64, count=len(xs))
        if len(lens) == 0:
            return pd.Series([], dtype=object)
        flat = (
            np.concatenate([np.asarray(v, dtype=np.int64) for v in xs])
            if lens.sum()
            else np.empty(0, dtype=np.int64)
        )
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        # reduceat misbehaves on empty segments; shingle arrays are never
        # empty by construction (shingles_of_tokens emits ≥1 element), but
        # guard so a caller feeding raw arrays can't get silent garbage
        if (lens == 0).any():
            raise ValueError("minhash: empty shingle array in batch")
        out = np.empty((len(lens), k), dtype=np.int64)
        for i in range(k):
            v = (flat * a_arr[i] + b_arr[i]) % _MERSENNE_P
            out[:, i] = np.minimum.reduceat(v, starts)
        return pd.Series(list(out))

    # NULL text is the only way to a NULL shingle array (split/transform
    # propagate NULL, and tokenization of "" still yields one "" shingle),
    # so drop it at the scan. Filtering on __xs instead is a trap:
    # predicate pushdown substitutes the alias, inlining the whole
    # tokenize→shingle→hash expression into the filter condition, where
    # its many element_at references re-evaluate the regex split per
    # shingle position (measured 0.7s → 6.2s at sf0.1).
    # Spread raw rows for parallelism on single-file local inputs; this is
    # the plan's ONLY exchange and carries the narrow (id, text) projection.
    if tokens_col is not None:
        # caller-materialized token arrays are already distributed (the
        # producing aggregation/cache partitioned them); the raw-row
        # spread below exists for single-file local scans, so it would
        # be a pure extra exchange here
        tok = df.select(
            F.col(id_col), F.col(tokens_col).alias("__toks")
        ).filter(F.col("__toks").isNotNull())
    else:
        # the spread width derives from corpus size (one cheap count job —
        # metadata-only on a parquet scan), rows-per-task ladder capped at
        # defaultParallelism: a fixed full-width spread anti-scaled at
        # small corpora (r16; see _SPREAD_ROWS_PER_TASK), while the cap
        # keeps crawl-scale behavior identical to the r15 shape
        sc = df.sparkSession.sparkContext
        n_parts = _spread_parts(df.count(), sc.defaultParallelism)
        spread = (
            df.select(id_col, text_col)
            .filter(F.col(text_col).isNotNull())
            .repartition(n_parts)
        )
        tok = spread.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    sh = shingles_of_tokens(F.col("__toks"), shingle_n)
    if hash_fn == "md5":
        # two-pass transform: interpreted lambdas have no CSE, so the
        # inline md5_hash32 form would run md5 4× per shingle
        from ..functions.hashing import md5_hash32_hof

        xs = md5_hash32_hof(sh)
    else:
        xs = F.transform(sh, lambda s: F.crc32(s))
    hashed = tok.select(F.col(id_col), xs.alias("__xs"))
    return hashed.select(F.col(id_col), _sig(F.col("__xs")).alias("signature"))


def minhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    est_jaccard_threshold: float | None = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """LSH banding over signatures → candidate near-dup pairs with
    ``est_jaccard`` (share of equal signature positions).

    rows-per-band r = len(signature)/bands. The bucket join shuffles on
    (band_idx, band_hash) — hot buckets (boilerplate docs) are exactly the
    skew case AQE skew-join handles.

    ``est_jaccard_threshold=None`` skips the estimate entirely and returns
    only the id pair — the right call when an exact scorer (e.g.
    ``ngram_jaccard_pairs(candidates=...)``) runs downstream: the signature
    arrays then never flow through the dedup shuffle and no per-pair
    interpreted comparison runs.

    ``materialize`` persists the signatures (MEMORY_AND_DISK, lazy)
    before the self-join. Both join sides embed the full signature
    pipeline, and neither plan-time nor AQE exchange reuse deduplicates
    sub-plans containing a Python UDF node — without the persist the
    signature kernel genuinely executes twice (measured 4.3s → 2.7s at
    sf0.1; at scale it is the difference between one and two passes over
    the corpus). Pass False when the caller manages its own
    checkpoint/table for the signatures.
    """
    if materialize:
        from pyspark import StorageLevel

        signatures = signatures.persist(StorageLevel.MEMORY_AND_DISK)
    sig = signatures.select(F.col(id_col).alias("id"), "signature")
    r_expr = F.floor(F.size("signature") / bands).cast("int")
    banded = sig.select(
        "id",
        "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.hash(
                        F.slice(
                            F.col("signature"),
                            (b * r_expr) + 1,
                            r_expr,
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("id", "signature", "band.band_idx", "band.band_hash")

    l = banded.select(
        F.col("id").alias("id_l"),
        F.col("signature").alias("sig_l"),
        "band_idx",
        "band_hash",
    )
    r = banded.select(
        F.col("id").alias("id_r"),
        F.col("signature").alias("sig_r"),
        "band_idx",
        "band_hash",
    )
    if est_jaccard_threshold is None:
        return (
            l.drop("sig_l")
            .join(r.drop("sig_r"), on=["band_idx", "band_hash"])
            .filter(F.col("id_l") < F.col("id_r"))
            .select(
                F.col("id_l").alias(f"{id_col}_l"),
                F.col("id_r").alias(f"{id_col}_r"),
            )
            .dropDuplicates([f"{id_col}_l", f"{id_col}_r"])
        )
    pairs = (
        l.join(r, on=["band_idx", "band_hash"])
        .filter(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", "sig_l", "sig_r")
        .dropDuplicates(["id_l", "id_r"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_l"), F.col("sig_r"), lambda a, b: a == b),
                lambda eq: eq,
            )
        )
        / F.size("sig_l")
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= est_jaccard_threshold)
        .select(
            F.col("id_l").alias(f"{id_col}_l"),
            F.col("id_r").alias(f"{id_col}_r"),
            "est_jaccard",
        )
    )


def minhash_candidate_pairs_between(
    left_sigs: DataFrame,
    right_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    est_jaccard_threshold: float | None = 0.5,
) -> DataFrame:
    """LSH candidates BETWEEN two signature sets (no within-set pairs):
    (``{id_col}_l`` from left, ``{id_col}_r`` from right, ``est_jaccard``).

    The incremental-dedup primitive: left = a new micro-batch, right = the
    accumulated signature store. Both sides band identically (same
    signature length required), join on (band_idx, band_hash), then the
    usual position-agreement estimate. Unlike the self-join variant no
    ``id_l < id_r`` ordering applies — left/right are distinct roles.
    """

    def banded(sigs: DataFrame, side: str) -> DataFrame:
        sig = sigs.select(F.col(id_col).alias(f"id_{side}"), F.col("signature").alias(f"sig_{side}"))
        r_expr = F.floor(F.size(f"sig_{side}") / bands).cast("int")
        return sig.select(
            f"id_{side}",
            f"sig_{side}",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_idx"),
                        F.hash(
                            F.slice(F.col(f"sig_{side}"), (b * r_expr) + 1, r_expr)
                        ).alias("band_hash"),
                    ),
                )
            ).alias("band"),
        ).select(f"id_{side}", f"sig_{side}", "band.band_idx", "band.band_hash")

    pairs = (
        banded(left_sigs, "l")
        .join(banded(right_sigs, "r"), on=["band_idx", "band_hash"])
        .dropDuplicates(["id_l", "id_r"])
    )
    if est_jaccard_threshold is None:
        return pairs.select(
            F.col("id_l").alias(f"{id_col}_l"), F.col("id_r").alias(f"{id_col}_r")
        )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_l"), F.col("sig_r"), lambda a, b: a == b),
                lambda eq: eq,
            )
        )
        / F.size("sig_l")
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= est_jaccard_threshold)
        .select(
            F.col("id_l").alias(f"{id_col}_l"),
            F.col("id_r").alias(f"{id_col}_r"),
            "est_jaccard",
        )
    )
