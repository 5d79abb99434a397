"""Blocked candidate-pair generation (SURVEY.md §2.3 J6/J7, §2.9 K2/K8).

A blocking pass is a conjunctive equi-join between the input file and a
reference file on ``cut_columns + blocking_columns``
(reference 03_link_datasets.ipynb:1966-2001). Semantics to preserve
(SURVEY.md §7.3.3): records NULL in any blocking key silently skip the pass
— exactly what a Spark inner equi-join does with NULL keys.

Scale notes:
- The join is a plain shuffled hash/sort-merge join; Catalyst picks.
- Hot blocks (e.g. surname SMITH at USA scale) skew the shuffle; AQE
  skew-join (on in session defaults) splits oversized partitions at
  runtime. ``salt_partitions`` adds the reference's explicit salting
  (03_link_datasets.ipynb:1971-1975) for keys AQE can't help (a single
  monster block): both sides get a salt in [0, n) derived from *additional*
  non-blocking columns... salting an equi-join without losing pairs requires
  replicating one side n times, so we salt by replicating the (smaller)
  right side and hashing the left — classic skew-salting.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class PairStats(NamedTuple):
    """A blocking pass's statistics (see :func:`block_statistics`).

    ``max_key_pairs`` is the largest single blocking key's pair product —
    the signal that says "this pass has a monster block": hash
    partitioning sends ALL of one key's pairs to ONE reduce task no
    matter how many partitions the join is pinned to, so only salting
    (splitting the key itself) can spread it. Splink salts Spark passes
    unconditionally for exactly this reason
    (reference 03_link_datasets.ipynb:1971-1975, salting_partitions: 10).
    """

    pairs: int
    n_left: int
    n_right: int
    max_key_pairs: int
    # Σ length() over each side's pair-row string payload (r11 — left:
    # every string column incl. the keys, which pair rows emit once from
    # the left; right: non-key string columns only). Measured in the SAME
    # aggregation job as the counts (zero extra scans), these feed
    # :func:`estimate_pair_row_bytes` so an address-heavy / free-text
    # pass no longer under-derives its pin from the 16-byte short-string
    # assumption. Default 0 keeps older 4-field constructions valid.
    str_bytes_l: int = 0
    str_bytes_r: int = 0


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def blocked_pairs(
    left: DataFrame,
    right: DataFrame,
    block_on: Sequence[str],
    left_suffix: str = "_l",
    right_suffix: str = "_r",
    salt_partitions: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """J6/J7/K2: equi-join on blocking keys; emit all non-key columns with
    ``_l``/``_r`` suffixes plus the keys once.

    With ``salt_partitions=n``, the left side gets ``salt = pmod(hash(cols),
    n)`` and the right side is replicated across all n salt values
    (``explode(sequence(...))``) so no pair is lost — the hot block's pairs
    spread over n reducers.

    ``num_partitions`` pins the join's shuffle partitioning on the blocking
    keys. Use it when the *inputs* are small but the pair output is large
    (pair explosion): AQE coalesces the input shuffle by bytes read, which
    would funnel millions of output pairs through a handful of tasks —
    exactly wrong for a downstream per-pair UDF. Pinning keeps the
    explosion spread across the cluster.
    """
    # every projection is ONE selectExpr string: in PySpark 4 each
    # F.col / .alias costs ~10 gateway round trips (origin tracking)
    keys = list(block_on)
    lcols = [c for c in left.columns if c not in keys]
    rcols = [c for c in right.columns if c not in keys]
    l_names = keys + [c + left_suffix for c in lcols]

    l = left.selectExpr(
        *map(sql_ident, keys),
        *[f"{sql_ident(c)} AS {sql_ident(c + left_suffix)}" for c in lcols],
    )
    r = right.selectExpr(
        *map(sql_ident, keys),
        *[f"{sql_ident(c)} AS {sql_ident(c + right_suffix)}" for c in rcols],
    )

    if salt_partitions and salt_partitions > 1:
        n = salt_partitions
        l = l.selectExpr(
            "*", f"pmod(hash({', '.join(map(sql_ident, l_names))}), {n}) AS __salt"
        )
        r = r.selectExpr("*", f"explode(sequence(0, {n - 1})) AS __salt")
        join_keys = keys + ["__salt"]
    else:
        join_keys = keys
    if num_partitions:
        # pin AFTER salting so the pin covers the join's actual keys —
        # a user-specified repartition is exempt from AQE partition
        # coalescing, which sizes by shuffle INPUT bytes and so funnels
        # pair explosions into few tasks (zstd crushes the salted
        # replicated side, so salting alone doesn't protect a
        # small-input pass; measured r7, tools/bench_linkage.py skew)
        l = l.repartition(num_partitions, *join_keys)
        r = r.repartition(num_partitions, *join_keys)
    joined = l.join(r, on=join_keys, how="inner")
    if join_keys is not keys:
        joined = joined.drop("__salt")
    return joined


class BlockPass(NamedTuple):
    """A blocking pass over the two frames given to
    :func:`block_statistics`: its keys, and each of its sides' columns as
    ``{name in the pass: column of the frame}`` (a rename, such as the
    name switch, reads a name from another column)."""

    keys: tuple[str, ...]
    left: dict[str, str]
    right: dict[str, str]


def block_statistics(
    left: DataFrame, right: DataFrame, passes: Sequence[BlockPass]
) -> list[PairStats]:
    """The exact :class:`PairStats` of each pass, from ONE aggregation.

    Each frame is read once, as one projection: a key *slot* for every
    distinct (left column, right column) pair some pass joins on, an
    indicator of the side, and each pass's string payload (Σ
    ``length()`` over the side's string columns, the right side's keys
    excluded since pair rows emit the keys once, from the left; NULL
    strings add 0). The two sides are unioned and grouped by GROUPING
    SETS, one set of slots per pass, so per key value and set one hash
    aggregate yields the rows of each side and their payloads; a global
    collapse then takes, per pass, the inner-join pair total (Σ count_l ×
    count_r: a key present on one side only adds 0), each side's row and
    payload totals, and the hottest key's pair product. Groups with a
    NULL key are dropped, as an equi-join drops those rows; the groups
    are Spark's own grouping keys (floats normalised), so a key the join
    treats as one value is never split."""
    slots: dict[tuple[str, str], str] = {}  # (left col, right col) -> slot
    sets = [
        tuple(
            slots.setdefault((p.left[k], p.right[k]), f"__k{len(slots)}")
            for k in p.keys
        )
        for p in passes
    ]
    strings = [
        {f.name for f in frame.schema.fields if f.dataType.typeName() == "string"}
        for frame in (left, right)
    ]
    pays: dict[tuple[int, str], str] = {}  # (side, payload sql) -> column

    def payload(side: int, cols: dict[str, str], exclude=()) -> str:
        terms = [
            f"coalesce(CAST(length({sql_ident(src)}) AS BIGINT), 0)"
            for name, src in cols.items()
            if src in strings[side] and name not in exclude
        ]
        sql = " + ".join(terms) or "CAST(0 AS BIGINT)"
        return pays.setdefault((side, sql), f"__p{len(pays)}")

    payloads = [(payload(0, p.left), payload(1, p.right, p.keys)) for p in passes]

    def tagged(frame: DataFrame, side: int) -> DataFrame:
        return frame.selectExpr(
            *[f"{sql_ident(cols[side])} AS {slot}" for cols, slot in slots.items()],
            f"{1 - side} AS __l",
            f"{side} AS __r",
            *[
                f"{sql if s == side else 'CAST(0 AS BIGINT)'} AS {col}"
                for (s, sql), col in pays.items()
            ],
        )

    names = list(slots.values())
    grouped = (
        tagged(left, 0)
        .union(tagged(right, 1))
        .groupingSets([list(s) for s in dict.fromkeys(sets)], *names)
        .agg(
            F.expr("sum(__l) AS __cl"),
            F.expr("sum(__r) AS __cr"),
            *[F.expr(f"sum({c}) AS {c}") for c in pays.values()],
            F.expr("grouping_id() AS __g"),
        )
    )

    def of_set(key_set: tuple[str, ...], value: str) -> str:
        # grouping_id sets bit (n-1-i) for every slot i NOT in the set
        gid = sum(
            1 << (len(names) - 1 - i) for i, c in enumerate(names) if c not in key_set
        )
        keep = " AND ".join([f"__g = {gid}"] + [f"{c} IS NOT NULL" for c in key_set])
        return f"CASE WHEN {keep} THEN {value} END"

    row = grouped.selectExpr(
        *[
            f"{agg}({of_set(s, value)})"
            for s, (pl, pr) in zip(sets, payloads)
            for agg, value in (
                ("sum", "__cl * __cr"),
                ("sum", "__cl"),
                ("sum", "__cr"),
                ("max", "__cl * __cr"),
                ("sum", pl),
                ("sum", pr),
            )
        ]
    ).first()
    return [
        PairStats(*(int(v or 0) for v in row[6 * i : 6 * i + 6]))
        for i in range(len(passes))
    ]


def estimate_pair_stats(
    left: DataFrame, right: DataFrame, block_on: Sequence[str]
) -> PairStats:
    """The :class:`PairStats` of one blocking pass of ``left`` against
    ``right`` on ``block_on``: :func:`block_statistics` of that one pass,
    every column of each side its own. The row totals feed
    :func:`derive_pair_pin`'s explosion gate, ``max_key_pairs``
    :func:`derive_salt`'s hot-key gate and the payload sums
    :func:`estimate_pair_row_bytes`' measured string widths."""
    one = BlockPass(
        tuple(block_on), {c: c for c in left.columns}, {c: c for c in right.columns}
    )
    return block_statistics(left, right, [one])[0]


def estimate_pair_row_bytes(
    left: DataFrame | StructType,
    right: DataFrame | StructType,
    block_on: Sequence[str],
    *,
    floor: int = 64,
    stats: PairStats | None = None,
) -> int:
    """Estimated in-memory bytes of ONE :func:`blocked_pairs` output row,
    from the join's actual projected schema (r10 — closes the r9 finding
    that :func:`derive_pair_pin` / :func:`derive_salt` sized partitions
    from a constant 256: a pass carrying many matching columns under-
    pinned, a narrow pass over-pinned; the cascade knows the schema at
    derivation time, so the heuristic can self-size like everything else
    the derivations automated).

    The pair row is the blocking keys once plus every non-key column of
    both sides, UnsafeRow-shaped: an 8-byte header word, one 8-byte slot
    per field, plus a variable section for var-width types. String
    payloads default to ~16 bytes (short name/date fragments); pass the
    pass's :func:`estimate_pair_stats` result as ``stats`` (r11) and the
    variable section uses each side's MEASURED average string payload
    instead — an address-heavy or free-text pass no longer silently
    underestimates (r10 verdict nit). Arrays/maps/binary get a coarse 32.
    This is a partition-count heuristic, not an allocator: being ~2× off
    moves the pin by 2× inside a [32, 4096] clamp, which the measured
    brackets tolerate (SKEW_BENCH_r07-r09 spanned pins 64-679 at the
    same wall). Each side is a frame or its schema."""
    keys = set(block_on)
    total = 8  # UnsafeRow header / null bitmap word
    n_strings = {True: 0, False: 0}
    # iterate with an explicit flag, NOT `side is right` — on a
    # self-join pass left and right are the SAME object and an identity
    # check would drop the keys from both iterations (r10 advisor)
    for is_right, side in ((False, left), (True, right)):
        schema = side if isinstance(side, StructType) else side.schema
        for f in schema.fields:
            if is_right and f.name in keys:
                continue  # keys emitted once (from the left side)
            name = f.dataType.typeName()
            total += 8  # fixed slot
            if name == "string":
                n_strings[is_right] += 1
            elif name in ("array", "map", "struct", "binary"):
                total += 32
    for is_right, n_rows, str_bytes in (
        (False, stats.n_left if stats else 0, stats.str_bytes_l if stats else 0),
        (True, stats.n_right if stats else 0, stats.str_bytes_r if stats else 0),
    ):
        if n_rows > 0:
            # measured average payload for the side's string columns as a
            # whole (the per-key job sums lengths across all of them)
            total += -(-str_bytes // n_rows)  # ceil
        else:
            total += 16 * n_strings[is_right]
    return max(floor, total)


def derive_pin_cap(
    default_parallelism: int, *, floor: int = 4096, conf=None
) -> int:
    """Auto-derived ceiling for :func:`derive_pair_pin`'s partition pin
    (r11 — the verdict's "derive, don't hard-code": the 4096 constant is
    the right shape for this box, but on a 1000-executor fleet a 15 TB
    pair shuffle pinned at 4096 means ~3.6 GB tasks — the exact
    oversized-task regime the pin exists to prevent).

    ``32 × defaultParallelism``: enough partitions that even a shuffle
    32 waves deep keeps tasks near the 64 MB target before the cap
    starts growing task volume instead. Floored at the measured 4096 so
    every local[32] measurement (SKEW_BENCH r7–r10, the ladder, the
    capbind run) keeps its exact derived values — on this box
    32 × 32 = 1024 < 4096, so the floor binds and nothing moves; on a
    1000×8-core fleet 32 × 8000 = 256k partitions of ~64 MB, the right
    shape for the 100 TB regime. Above the cap, per-task pair volume
    grows with the explosion — the same graceful degradation a fixed
    conf has, measured live at the binding point in CAPBIND_r11.

    Under DYNAMIC allocation ``defaultParallelism`` reflects the
    executors alive at estimate time, not the max fleet — early in a
    job (exactly when the cascade derives its pins) the cap would
    under-derive (r11 verdict nit). Pass ``conf`` (a ``spark.conf`` /
    ``SparkConf``-like object with ``.get(key, default)``) and, when
    ``spark.dynamicAllocation.enabled`` is true AND both
    ``spark.dynamicAllocation.maxExecutors`` and
    ``spark.executor.cores`` are explicitly set, the fleet ceiling
    ``maxExecutors × executorCores`` is used instead (never less than
    the live ``defaultParallelism`` — scale-down mid-estimate must not
    shrink the cap). Missing/unparseable confs fall back to
    ``defaultParallelism`` unchanged; local[32] keeps floor-binds."""
    slots = max(1, int(default_parallelism))
    if conf is not None:
        try:
            dyn = str(
                conf.get("spark.dynamicAllocation.enabled", "false") or "false"
            ).lower() == "true"
            max_exec = conf.get("spark.dynamicAllocation.maxExecutors", None)
            cores = conf.get("spark.executor.cores", None)
            if dyn and max_exec is not None and cores is not None:
                fleet = int(max_exec) * int(cores)
                if fleet > 0:
                    slots = max(slots, fleet)
        except (TypeError, ValueError):
            pass  # unparseable conf: the live-parallelism path still holds
    return max(floor, 32 * slots)


def derive_pair_pin(
    n_pairs: int,
    n_left: int,
    n_right: int,
    shuffle_partitions: int,
    *,
    pair_row_bytes: int = 256,
    target_partition_bytes: int = 64 << 20,
    explosion_ratio: float = 8.0,
    min_output_partitions: int = 4,
    cap: int = 4096,
) -> int | None:
    """Auto-derived ``num_partitions`` pin for :func:`blocked_pairs`, or
    ``None`` when the pass doesn't need one.

    The regime the pin exists for (measured r7, SKEW_BENCH_r07): a pass
    whose INPUT is small but whose pair OUTPUT explodes. AQE sizes and
    coalesces reduce stages by shuffle INPUT bytes — zstd crushes a
    salted pass's replicated reference side to ~1 MB — so a 176M-pair
    hot block collapsed to ONE reduce task and scored serially (932.0s;
    salt alone measured useless) until an explicit pin spread it
    (274.1s local, 185.1s fleet). The pin was a manual knob; a pass
    whose author forgot it silently re-entered the serial regime — this
    derives it from the K8 estimate the cascade already computes.

    Gate: pin only when ``pairs > explosion_ratio × (n_left+n_right)``
    — when output rows are within a small factor of input rows, AQE's
    byte-based sizing sees the work just fine (the estimate's cost is
    two small aggs; passes below the gate keep their exact prior plan).
    Size: one partition per ``target_partition_bytes`` of estimated
    *output* (``pairs × pair_row_bytes`` — the bytes AQE cannot see),
    clamped to ``[shuffle_partitions, cap]`` so the pin never REDUCES
    the session's configured parallelism and never mints absurd task
    counts (at the cap, per-task pair volume grows with the explosion —
    the same graceful degradation a fixed conf has).

    Absolute-output floor (r9 advice): a pass barely over the ratio
    gate with a tiny ABSOLUTE output (e.g. 9k pairs from 1k rows) would
    otherwise get pinned at the full session ``shuffle_partitions``,
    disabling AQE coalescing on work that fits in one task anyway —
    below ``min_output_partitions × target_partition_bytes`` of
    estimated pair bytes, return ``None`` and let AQE size it.

    AQE-interaction note: a user-specified repartition is exempt from
    ALL AQE partition rewrites, including ``OptimizeSkewedJoin`` (which
    only splits ENSURE_REQUIREMENTS exchanges) — so a pinned pass loses
    AQE's runtime skew splitting. That is safe because the cascade
    derives SALT alongside the pin (:func:`derive_salt`): any single
    key whose pair product exceeds ~2 partitions' worth is split by
    salting *before* the exchange, bounding the worst unsalted key task
    at roughly ``2 × target_partition_bytes`` of pair output — the same
    bound skew-join splitting would have produced. Callers pinning
    WITHOUT salt derivation should know an unsalted hot key still lands
    in one task.
    """
    if n_pairs <= 0 or n_pairs <= explosion_ratio * max(1, n_left + n_right):
        return None
    if n_pairs * pair_row_bytes < min_output_partitions * target_partition_bytes:
        return None
    n = -(-(n_pairs * pair_row_bytes) // target_partition_bytes)  # ceil
    return max(shuffle_partitions, min(int(n), cap))


def derive_salt(
    max_key_pairs: int,
    *,
    pair_row_bytes: int = 256,
    target_partition_bytes: int = 64 << 20,
    hot_factor: float = 2.0,
    cap: int = 32,
) -> int | None:
    """Auto-derived ``salt_partitions`` for :func:`blocked_pairs`, or
    ``None`` when no single key is hot enough to need splitting.

    The regime (the half of the forgotten-knob problem the r8 auto-pin
    could NOT fix): hash partitioning sends a single monster block's
    every pair to ONE reduce task — a pin spreads *distinct* keys but
    cannot split one hot key, so a pass author who forgot
    ``salt_partitions`` re-entered the serial regime even with the pin
    (SKEW_BENCH_r08 proved only pin derivation; salt was hard-coded in
    the harness). The reference salts unconditionally on Spark
    (``salting_partitions: 10``, 03_link_datasets.ipynb:1971-1975); we
    gate instead because salting replicates the whole right side
    ``n``× (:func:`blocked_pairs`) — pure cost for a skew-free pass.

    Gate: the hottest key's pair product must exceed ``hot_factor``
    tasks' worth of pair output (``target_partition_bytes /
    pair_row_bytes`` pairs each) — below that, the straggler a hot key
    can create is bounded at ~``hot_factor × target_partition_bytes``
    (~128 MB), no worse than what AQE's own skew-split advisory
    produces. Size: enough salt lanes to bring the hot key back to one
    task's worth each, clamped to ``[2, cap]`` — at the cap the
    replication cost (right side × cap) stops growing and the hot key's
    lanes degrade gracefully, exactly like the pin's cap.
    """
    target_pairs = max(1, target_partition_bytes // pair_row_bytes)
    if max_key_pairs <= hot_factor * target_pairs:
        return None
    n = -(-max_key_pairs // target_pairs)  # ceil
    return max(2, min(int(n), cap))
