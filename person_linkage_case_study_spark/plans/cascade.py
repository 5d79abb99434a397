"""The PVS linkage cascade (SURVEY.md §3.3, §7.1 step 6).

The reference's ``PersonLinkageCascade`` / ``PersonLinkageModule``
(03_link_datasets.ipynb:1781-2234) orchestrates 4 modules × up to 5 passes:
each pass equi-joins the not-yet-linked input file against a reference file
on cut+blocking columns, scores the pairs with a trained Fellegi-Sunter
model restricted to the pass's matching columns, keeps pairs over a
probability threshold, and removes the linked records; each module ends by
confirming at most one PIK per raw input record.

Spark-first shape: the whole pass is ONE DataFrame pipeline
(block-join → gamma → score → filter), and the cascade is a driver loop
over persisted DataFrames — the reference's engine-boundary parquet
round-trips (steps 2/6 of §3.3) disappear. Cross-pass state is persisted
and the previous state unpersisted each pass so lineage doesn't grow
(reference clears checkpoints at the same points, K12).

Pass groups. Removing the linked records after every pass costs two eager
checkpoints per pass (the links, then the anti-join), and on a small world
those jobs are most of the cascade's time. But blocking and scoring work
pair by pair (a fixed model, no term-frequency tables, the name switch a
per-row rename), so a record's links in pass k depend only on that record
and the reference file; sequential elimination therefore keeps, for each
census record, exactly the links of the EARLIEST pass that linked it.

Each pass is sized from exact block statistics (``block_statistics``: its
pairs, hottest key, and rows and string payload per side), computed once
per census state: at module start and after each flush, the first pass
that needs them runs ONE query for itself and for the module's later
passes that may join a group, and the passes read them from a cache until
the records still eligible change. Consecutive passes whose plan derives
no knob from those statistics (no pin, no salt, and pairs that do not
escalate the checkpoint storage level; both knobs left to derivation)
collect into a pending *group* that reads the census
as it stood when the group began: one ``blocked_pairs`` branch per pass,
ONE ``score_pairs`` over their union, and a window that keeps a pair when
it clears its pass's threshold and its pass is the record's first linking
pass (a group that holds a single pass needs no window: it keeps the pairs
over the threshold). A group makes at most ``PASS_GROUP_MAX_PAIRS`` pairs,
summed over its passes at the group's census, because its later passes
score again the records its earlier passes linked; a pass that would take
it past the cap starts a new group. A grouped pass builds only its branch
(no job, and no re-planning of the passes before it). The group's scored
union, window, links and anti-join are planned once, on read: when the
group is materialised — once, when the next group or a pass outside any
group runs (links + anti-join) or at ``confirm_piks`` (links only) — or
when the state (``_provisional_links``, ``_census_to_match``) is read
mid-group, which plans the group as it stands and keeps that plan until
another pass joins. Any other pass runs as a *group of one*: its links
checkpoint and anti-join checkpoint, no window — so a pass whose
statistics derive a knob (every pass of the RI-scale rungs) runs exactly
its sequential queries, and ``auto_pin=False`` (every pass a group of
one) is sequential elimination itself.

Statistics. ``PassStats`` and ``ConfirmStats`` are the figures sequential
elimination gives, observed (``DataFrame.observe``) inside the actions
that run anyway, so they cost no job. A group's window makes them exact
for each of its passes: pass k blocks the pairs of its branch whose
record's first linking pass is k or later (or none), links those whose
first linking pass it is, and removes the records whose first linking
pass it is, counted once each (each of a record's n rows adds 1/n).
Records still eligible are counted on each census checkpoint (module
start and each flush). A single-pass group has no
window: it counts its pairs and links on its scored pairs, and its
records left on the anti-join checkpoint after it, which ``confirm_piks``
therefore runs for it. Confirm counts the deceased links on its
links ⋈ ``dates_of_death`` frame and the multi-PIK records on its gate's
window, once each by the same rule. In the lazy checkpoint modes
('persist', 'off') the figures arrive with the first action that reads
the cascade's output; reading them before raises.
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from ..operators.blocking import (
    BlockPass,
    PairStats,
    block_statistics,
    blocked_pairs,
    derive_pair_pin,
    derive_pin_cap,
    derive_salt,
    estimate_pair_row_bytes,
    sql_ident,
)
from ..operators.dedup import keep_best, max_per_group_with_ties
from ..operators.joins import anti_join
from ..operators.scoring import LinkageModel, score_pairs
from ..session import shuffle_partitions

CENSUS_DAY = "2030-04-01"

CHECKPOINT_MODES = ("local", "reliable", "persist", "off")


def _switched_names(columns: list[str]) -> dict[str, str]:
    """Each first_*/last_* column pair of ``columns``, mapped both ways."""
    present = set(columns)
    out = {}
    for c in columns:
        other = "last_" + c.removeprefix("first_")
        if c.startswith("first_") and other in present:
            out[c], out[other] = other, c
    return out


def switch_first_and_last_names(df: DataFrame) -> DataFrame:
    """Name-switch input transformation for the transposed-name passes
    (reference 03_link_datasets.ipynb:2496-2520): swap every first_*/last_*
    derived column pair, as ONE projection that keeps the column order."""
    switched = _switched_names(df.columns)
    return df.selectExpr(
        *[
            f"{sql_ident(c)} AS {sql_ident(switched[c])}"
            if c in switched
            else sql_ident(c)
            for c in df.columns
        ]
    )


def _switch_schema(schema: StructType) -> StructType:
    """``schema`` as :func:`switch_first_and_last_names` leaves it."""
    switched = _switched_names(schema.names)
    return StructType(
        [
            StructField(
                switched.get(f.name, f.name), f.dataType, f.nullable, f.metadata
            )
            for f in schema.fields
        ]
    )


#: the most pairs a pass group makes, summed over its passes' exact
#: pairs at the group's census (``PersonLinkageCascade._pass_stats``).
#: Grouping trades work for jobs: a pass in a group blocks and scores
#: again the records the group's earlier passes linked, and the window
#: shuffles every scored pair, while each pass it holds saves two
#: checkpoint jobs. On a 4-core host (``local[4]``), in the worst shape
#: measured (``tools/bench_linkage.py``'s cascade on sf0.01 data with the
#: geokey moduli doubled: a geokey pass that links all but a few records,
#: then a name-switch pass on the same key that scores them all again), a
#: group of 165,348 pairs (7,500 census records) ran slower than
#: sequential elimination in 6 of 6 alternating pairs of runs (median +4%)
#: and one of 82,546 (3,750 records) ran faster in 5 of 6 (median -10%);
#: the cap sits under both, half the first. The largest group of the
#: ``pvs_cascade`` world makes ~37k. A pass that would take a group past
#: the cap starts a new group.
PASS_GROUP_MAX_PAIRS = 80_000


#: observation names, unique in the process: two metric nodes of one name
#: in a plan (in the 'persist' / 'off' modes a later plan holds every
#: earlier node) fail only in the listener thread, and neither's metrics
#: arrive
_OBSERVATION_IDS = itertools.count()


def _observation() -> Observation:
    return Observation(f"cascade_{next(_OBSERVATION_IDS)}")


_NOT_OBSERVED = (
    "the cascade's statistics are observed by the actions that run its "
    "frames, and none has run yet: with checkpoint='persist' or 'off', run "
    "an action that reads the cascade's output whole (e.g. "
    "confirmed_piks.count()) before reading them"
)


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _linked_records(links: DataFrame) -> DataFrame:
    """The census record ids a links frame names, once each (the key the
    cascade drops linked records on: linkage records, NOT raw records — a
    nickname variant matching doesn't stop the canonical record, SURVEY
    §7.3.5)."""
    return links.selectExpr("record_id_census_2030 AS record_id").distinct()


def pass_group_plan_problems(tree: str, branches: int) -> list[str]:
    """What breaks the pass-group shape in an optimized plan's
    ``treeString`` (empty when nothing): it must hold ONE Window, above
    the Union of the ``branches`` blocked joins, and no Filter on the
    probability or the threshold below that Union (pushed through it into
    every branch, such a Filter made constraint propagation over the
    Union take seconds per module). The tests and
    ``tools/explain_audit.py`` check group plans with it."""
    nodes = []  # (depth, node text)
    for line in tree.splitlines():
        text = line.lstrip(" :+-")
        if text:
            nodes.append((len(line) - len(text), text))

    def below(i: int) -> list[int]:
        j = i + 1
        while j < len(nodes) and nodes[j][0] > nodes[i][0]:
            j += 1
        return list(range(i + 1, j))

    windows = [i for i, (_, t) in enumerate(nodes) if t.startswith("Window ")]
    if len(windows) != 1:
        return [f"{len(windows)} Windows, not one"]
    unions = [i for i in below(windows[0]) if nodes[i][1].startswith("Union")]
    if len(unions) != 1:
        return [f"{len(unions)} Unions below the Window, not one"]
    under = [nodes[i][1] for i in below(unions[0])]
    problems = []
    joins = sum(t.startswith("Join ") for t in under)
    if joins != branches:
        problems.append(f"{joins} Joins below the Union, not {branches}")
    problems += [
        f"threshold Filter below the Union: {t}"
        for t in under
        if t.startswith("Filter ") and ("match_probability" in t or "__t" in t)
    ]
    return problems


#: the schema :meth:`PersonLinkageCascade.build_pass_links` actually emits
#: (name, typeName) — the checkpoint gate's initial row-width derivation
#: uses this template before any pass exists; a test pins it against the
#: real ``build_pass_links`` output so the two can't drift (r11).
LINKS_FRAME_TEMPLATE: tuple[tuple[str, str], ...] = (
    ("record_id_census_2030", "string"),
    ("record_id_reference_file", "string"),
    ("record_id_raw_input_file", "string"),
    ("match_weight", "double"),
    ("match_probability", "double"),
    ("module_name", "string"),
    ("pass_name", "string"),
)

#: the confirmed-PIK accumulator's schema (``confirm_piks`` folds into it)
CONFIRMED_FRAME_TEMPLATE: tuple[tuple[str, str], ...] = (
    ("record_id_raw_input_file", "string"),
    ("record_id_census_2030", "string"),
    ("record_id_reference_file", "string"),
    ("pik", "string"),
    ("module_name", "string"),
    ("pass_name", "string"),
    ("match_probability", "double"),
)


def _empty_frame(
    spark: SparkSession, template: tuple[tuple[str, str], ...]
) -> DataFrame:
    """An empty frame of ``template``'s columns that optimizes to an empty
    LocalRelation, so a Union over it drops the branch (an empty
    ``createDataFrame`` plans as a LogicalRDD the optimizer cannot prune)."""
    cols = ", ".join(f"CAST(NULL AS {t}) AS {sql_ident(n)}" for n, t in template)
    return spark.sql(f"SELECT {cols} WHERE false")


def estimate_checkpoint_row_bytes(fields: "object") -> int:
    """Estimated DESERIALIZED JVM bytes of one checkpointed row — the
    numerator unit for :func:`derive_checkpoint_storage` (r11: the gate
    used a constant 350 B/row while the pin/salt derivations had already
    graduated to schema-derived widths — the same hole-class, reachable
    via row WIDTH instead of row count: a links frame with many wide
    columns under-gated; r10 verdict top-next).

    A locally-checkpointed block stores ``GenericInternalRow`` objects,
    not UnsafeRows, so the model is object-per-field: ~40 B row fixture
    (row object header + values-array reference + ``Object[]`` header),
    8 B per element slot, then per field a boxed primitive (~16 B) or a
    ``UTF8String`` + backing ``byte[]`` (~48 B for the short name/id
    strings these frames carry); arrays/maps/binary get a coarse 64.

    Calibration: the links template (5 strings + 2 doubles) estimates
    368 B vs the 512×-ladder's OBSERVED ~330 B/row deserialized — ~11%
    conservative, and both measured bracket points stay on their sides
    of the half-heap gate (76.8M × 368 = 28.3 GB ≤ 32 GB on-heap fine;
    153.6M × 368 = 56.5 GB > 32 GB flips to DISK_ONLY, the rung that
    OOM'd).

    ``fields`` is a pyspark ``StructType`` (iterating yields
    ``StructField``) or the template's ``(name, typeName)`` tuples."""
    total = 40  # row object + values-array ref + Object[] header
    for f in fields:
        type_name = f[1] if isinstance(f, tuple) else f.dataType.typeName()
        total += 8  # Object[] element slot
        if type_name == "string":
            total += 48  # UTF8String header + short byte[] payload
        elif type_name in ("array", "map", "struct", "binary"):
            total += 64
        else:
            total += 16  # boxed primitive
    return total


def derive_checkpoint_storage(
    frame_rows: int | None,
    heap_bytes: int | None,
    *,
    row_bytes: int = 350,
    heap_fraction: float = 0.5,
) -> StorageLevel | None:
    """Auto-derived storage level for 'local' checkpoints, or ``None``
    to keep Spark's on-heap-first default — the checkpoint analog of
    :func:`derive_pair_pin` / :func:`derive_salt` (r9 closed the pin and
    salt knobs; this closes the one the 1024× OOM fix introduced, so a
    caller who sets nothing survives the mega regime too).

    Measured bracket (in-process ladder, 64 g heap): the 512× rung's
    76.8M-row links frame (~25 GB deserialized at the observed ~330
    B/row) checkpointed on-heap FINE; the 1024× rung's 153.6M-row frame
    (~51 GB) OOM'd a shuffle writer while 32 tasks unrolled partitions
    concurrently. ``heap_fraction=0.5`` keeps both measured points on
    their correct sides: flip to DISK_ONLY when the frame's estimated
    deserialized bytes exceed half the executor heap. ``row_bytes``
    defaults to the bracket's calibrated constant, but the cascade now
    passes :func:`estimate_checkpoint_row_bytes` of the links frame's
    schema, :data:`LINKS_FRAME_TEMPLATE` (r11 — a wide links frame flips
    at proportionally fewer rows; the template derives 368, within 11% of
    the observed 330; a test pins it to the real links schema). On a
    multi-executor cluster the comparison (TOTAL rows vs ONE
    executor's heap) is conservative — it flips to disk sooner than
    strictly needed, which at 100 TB is the posture you want anyway
    (node-local-disk checkpoints, zero MemoryStore pressure).

    ``frame_rows`` proxy (r10, advisor): the cascade seeds this with the
    CENSUS row count — exact when link rate ≈ 1 (the whole ladder), an
    UNDERCOUNT for a pass whose links multiply census rows (nickname-
    style record multiplication) or whose row width exceeds
    ``row_bytes``. The cascade therefore RE-derives per pass with
    ``max(census_rows, the pass's exact pairs)`` (``block_statistics``)
    and escalates to DISK_ONLY mid-run the moment any pass's pairs flip
    the gate (escalation is one-way — a level already derived never
    downgrades mid-run, so checkpoint behavior stays monotone). The pairs
    upper-bound the links frame (links ⊆ scored pairs), so the escalated
    gate can only fire early — the conservative side."""
    if not frame_rows or not heap_bytes:
        return None
    if frame_rows * row_bytes > heap_fraction * heap_bytes:
        return StorageLevel.DISK_ONLY
    return None


@dataclass
class PassConfig:
    name: str
    blocking_columns: list[str]
    probability_threshold: float = 0.97
    # the transposed-name passes: block and score the census with every
    # first_*/last_* column pair swapped (switch_first_and_last_names)
    switch_names: bool = False
    # splits hot blocking keys across n salt lanes (blocked_pairs
    # salt_partitions — the reference's salting_partitions,
    # 03_link_datasets.ipynb:1971-1975). None (default) = AUTO-DERIVE
    # from the hottest key's pairs in the pass's exact block statistics
    # (r9: derive_salt — the pin below spreads DISTINCT keys but hash
    # partitioning still sends one monster key's every pair to ONE
    # task, so a pass author who forgot this knob re-entered the
    # serial regime even with the r8 auto-pin); an explicit int
    # overrides (1 disables salting); the cascade's auto_pin=False
    # disables derivation entirely.
    salt_partitions: int | None = None
    # pins the block join's shuffle partitioning (blocked_pairs
    # num_partitions). Needed whenever the pass's INPUT is small but its
    # pair OUTPUT is not: AQE coalesces post-shuffle partitions by input
    # bytes — and zstd crushes a salted pass's replicated reference side,
    # so even salt_partitions can collapse back into ONE reduce task that
    # then scores every pair serially (measured r7: a 150k-record corpus
    # with a 176M-pair hot block ran 932s no-pin vs ~the same WITH salt
    # but no pin; pinning restores the spread). Big inputs don't need it
    # — their own bytes keep AQE partition counts high (the 512x ladder).
    # None (default) = AUTO-DERIVE from the pass's exact pairs (its
    # block statistics; r8: derive_pair_pin — the manual knob silently
    # re-entered the serial regime when forgotten); an explicit int
    # overrides; the cascade's auto_pin=False disables derivation
    # entirely.
    num_partitions: int | None = None


@dataclass
class ModuleConfig:
    name: str
    reference_file_name: str
    cut_columns: list[str]
    matching_columns: list[str]
    passes: list[PassConfig]
    bayes_factor_cut_columns: float = 1.0


@dataclass
class CascadeConfig:
    modules: list[ModuleConfig]


@dataclass(frozen=True)
class PassPlan:
    """A pass's resolved physical knobs (see ``resolve_pass_plan``):
    the effective partition pin and salt for ``blocked_pairs``, plus the
    exact block statistics that derived them (``stats`` is None only when
    no knob is derived: both explicit, or ``auto_pin=False``)."""

    stats: PairStats | None
    num_partitions: int | None
    salt_partitions: int | None


@dataclass
class PassStats:
    """A pass's figures as sequential elimination gives them (the
    reference prints them per pass, 03 cells 86-143), observed in the
    actions the cascade runs anyway (module docstring):
    ``n_pairs_estimated`` is the exact number of pairs the pass blocks at
    the records still eligible when it runs (the name is kept from when
    it was an estimate), ``n_links`` its links and ``n_still_eligible``
    the records eligible after it.

    ``num_partitions``, ``salt_partitions`` and ``storage_level`` are
    the knobs of a pass run as a group of one: its resolved pin and salt
    (``PassPlan``) and, in 'local' mode, the storage level its
    checkpoints use (None: Spark's default). They are None for a pass run
    in a group."""

    module: str
    pass_name: str
    n_pairs_estimated: int
    n_links: int
    n_still_eligible: int
    num_partitions: int | None = None
    salt_partitions: int | None = None
    storage_level: StorageLevel | None = None


@dataclass
class ConfirmStats:
    """Per-module confirm drops (reference 03:2132-2234 reports both:
    small_sample drops 115 deceased links and 4 multi-PIK conflicts).

    ``n_deceased_dropped`` is ``None`` — not a numeric sentinel — for a
    module run without a dates_of_death table, so aggregating consumers
    (sums, reports) don't silently absorb placeholder values."""

    module: str
    n_deceased_dropped: int | None
    n_multi_pik_dropped: int


@dataclass
class _PassGroup:
    """Passes that derive no knob, run as one scored union (see the module
    docstring), or a group of one: one branch, with its pass's knobs. The
    frames built from the branches are planned on first read and dropped
    when another pass joins."""

    census: DataFrame  # the census to match when the group began
    census_rows: Observation  # counts ``census``
    links_before: DataFrame  # the module's links from earlier passes
    branches: list[DataFrame] = field(default_factory=list)
    # each pass's PassStats, given its pairs, links and records left
    passes: list[Callable[[int, int, int], PassStats]] = field(default_factory=list)
    pairs: int = 0  # the sum of its passes' pairs at ``census``
    links: DataFrame | None = None  # the group's links (lazy)
    metrics: Observation | None = None  # observes the plan of ``links``
    provisional: DataFrame | None = None  # links_before + links
    census_left: DataFrame | None = None  # census minus the linked records


@dataclass
class _ObservedGroup:
    """A flushed group's statistics, read from its observations when
    ``PersonLinkageCascade.stats`` is read."""

    passes: list[Callable[[int, int, int], PassStats]]
    census_rows: Observation  # the records eligible when the group began
    metrics: Observation  # per pass: pairs, links (and records linked)
    # a single-pass group's records left, or in the lazy modes the frame
    # to count them on when read (no later frame reads a module's last)
    rows_left: Observation | None = None
    census_left: DataFrame | None = None


class PersonLinkageCascade:
    """Driver-side cascade state machine.

    Parameters
    ----------
    census:          preprocessed input file (must carry ``record_id`` and
                     ``record_id_raw_input_file``)
    reference_files: name → preprocessed reference DataFrame (each with
                     ``record_id`` and ``pik``)
    model:           trained LinkageModel covering the union of all
                     matching columns
    dates_of_death:  (pik, date_of_death DATE) — deceased links dropped at
                     confirm (reference 03:2146-2169)
    auto_pin:        derive a ``num_partitions`` pin and a salt for passes
                     that leave them None (default True): the pass's
                     exact block statistics (one query per census state,
                     see ``resolve_pass_plan``) feed ``derive_pair_pin``,
                     so a pass whose pair output explodes relative to its
                     input gets its reduce stage spread even though AQE —
                     which sizes by shuffle INPUT bytes — cannot see the
                     explosion (the r7 932s-serial regime,
                     SKEW_BENCH_r07), and ``derive_salt``. Passes below
                     the gates keep their exact unpinned plan, and run
                     as pass GROUPS (module docstring): consecutive
                     passes that derive no knob, up to
                     ``PASS_GROUP_MAX_PAIRS`` pairs, share one scored
                     union and one materialisation. ``auto_pin=False``
                     forms no groups: every pass is a group of one.
    checkpoint:      'local' (default) truncates lineage with
                     localCheckpoint at every group boundary — after a
                     group of one, its links and the records left; after
                     a pass group, its links once (plus the records left
                     when another pass follows in the module); 'reliable'
                     uses the SparkContext checkpoint dir (set it first) —
                     REQUIRED behavior, not an optimization: without it the
                     logical plan grows exponentially across passes (each
                     anti-join embeds the prior state's plan twice; a
                     13-pass run was measured producing a 2 GB plan string
                     and OOMing the driver). The reference clears Spark
                     checkpoints at exactly these points (K12). 'off'
                     skips truncation entirely — sound ONLY for shallow
                     configs (single-digit total passes): plan depth grows
                     exponentially in passes, but a 1-pass run pays zero
                     materialization jobs (cascade_mini at sf0.1: ~0.3s
                     saved; the rest of its wall is genuine pair scoring).
                     'persist' caches each frame MEMORY_AND_DISK without
                     cutting lineage: the planner then reads accurate
                     in-memory sizes (the late-pass broadcast flip), but
                     the plan still grows per pass, so it is for shallow
                     configs too. Any other mode raises ``ValueError``.
    checkpoint_storage_level: storage level for 'local' checkpoints.
                     None (default) = AUTO-DERIVE from the census row
                     count vs the executor heap
                     (``derive_checkpoint_storage`` — frames past ~half
                     the heap's worth of deserialized rows stream to
                     DISK_ONLY; smaller corpora keep Spark's on-heap
                     default untouched). An explicit StorageLevel
                     overrides; ``auto_pin=False`` disables this
                     derivation along with pin/salt. See ``_truncate``
                     for the measured 1024× OOM the derivation avoids.
    """

    def __init__(
        self,
        spark: SparkSession,
        census: DataFrame,
        reference_files: dict[str, DataFrame],
        model: LinkageModel,
        dates_of_death: DataFrame | None = None,
        checkpoint: str = "local",
        auto_pin: bool = True,
        checkpoint_storage_level: StorageLevel | None = None,
    ) -> None:
        if checkpoint not in CHECKPOINT_MODES:
            raise ValueError(
                f"checkpoint must be one of {CHECKPOINT_MODES}, got {checkpoint!r}"
            )
        self.checkpoint = checkpoint
        self.checkpoint_storage_level = checkpoint_storage_level
        self._ckpt_level: StorageLevel | None = None
        self._ckpt_level_resolved = False
        self._ckpt_rows = 0  # largest frame-row bound fed to the gate
        self._ckpt_bytes = 0  # largest rows x row_bytes bound fed to it
        self._row_bytes = estimate_checkpoint_row_bytes(LINKS_FRAME_TEMPLATE)
        self._heap_bytes: int | None = None
        # the passes' block statistics at the current census state, by
        # _stats_key (see _pass_stats)
        self._block_stats: dict[tuple, PairStats] = {}
        self.auto_pin = auto_pin
        self.spark = spark
        # a cache the caller made stays the caller's (release() keeps it)
        self._owns_census_cache = not census.is_cached
        self.census = census.persist(StorageLevel.MEMORY_AND_DISK)
        self.reference_files = reference_files
        self.model = model
        self.dates_of_death = dates_of_death
        # what ``stats`` and ``confirm_stats`` read: one entry per flushed
        # group, and per confirm its module and its deceased (None
        # without a dates_of_death table) and multi-PIK observations
        self._observed_groups: list[_ObservedGroup] = []
        self._observed_confirms: list[
            tuple[str, Observation | None, Observation]
        ] = []
        # accumulator: ≤1 row per record_id_raw_input_file after each module
        self.confirmed_piks: DataFrame = _empty_frame(spark, CONFIRMED_FRAME_TEMPLATE)
        self._module: ModuleConfig | None = None
        # the module's state as of the last group flushed (a pending
        # group's is built when read: _census_to_match, _provisional_links)
        self._census_flushed: DataFrame | None = None
        self._census_rows: Observation | None = None  # counts it
        self._links_flushed: DataFrame | None = None
        self._reference_file: DataFrame | None = None
        self._group: _PassGroup | None = None
        # read once per cascade / per module for the passes' schemas
        self._census_schema: StructType | None = None
        self._reference_schema: StructType | None = None

    def _truncate(self, df: DataFrame) -> DataFrame:
        """Materialize and cut lineage (plan depth back to O(1)).

        ``checkpoint_storage_level`` (local mode only) controls WHERE the
        materialized blocks live. The default (None → Spark's
        MEMORY_AND_DISK, deserialized rows on-heap first) is right while
        the per-pass links frame is small against the heap, but it is a
        measured scale cliff: at the 1024× ladder rung (153.6M records)
        the pass-1 links frame (~51 GB across 228 × ~226 MiB partitions)
        unrolled as deserialized objects saturated the 64 g heap and a
        concurrent shuffle writer's allocation threw
        ``java.lang.OutOfMemoryError`` (LADDER_r09 first attempt) — the
        512× rung, at half the frame, fit. ``StorageLevel.DISK_ONLY``
        streams the serialized UnsafeRow bytes straight to local disk
        (no MemoryStore unroll at all), which is exactly how a real
        cluster spills a once-per-pass frame; the blocks are still
        GC-reclaimed when the pass drops its refs (observed r8,
        tools/check_checkpoint_cleanup.py)."""
        if self.checkpoint == "reliable":
            return df.checkpoint(eager=True)
        if self.checkpoint == "local":
            lvl = self._resolve_ckpt_level()
            if lvl is not None:
                return df.localCheckpoint(eager=True, storageLevel=lvl)
            return df.localCheckpoint(eager=True)
        if self.checkpoint == "persist":
            return df.persist(StorageLevel.MEMORY_AND_DISK)
        return df  # 'off'

    def _derives_storage(self) -> bool:
        """Whether the checkpoint storage level is auto-derived (and so
        may escalate on a pass's pairs)."""
        return (
            self.checkpoint == "local"  # only 'local' consults the level
            and self.checkpoint_storage_level is None
            and self.auto_pin
        )

    def _resolve_ckpt_level(self) -> StorageLevel | None:
        """Resolve once, lazily (the census count that feeds the
        derivation materializes the persisted census — which the first
        module needs immediately anyway, so the count is ~free). An
        explicit ``checkpoint_storage_level`` wins; ``auto_pin=False``
        restores the fully manual contract (None = Spark default)."""
        if self._ckpt_level_resolved:
            return self._ckpt_level
        if self.checkpoint_storage_level is not None or not self.auto_pin:
            self._ckpt_level = self.checkpoint_storage_level
        else:
            from ..session import executor_heap_bytes

            self._ckpt_rows = self.census.count()
            self._heap_bytes = executor_heap_bytes(self.spark)
            # initial width: the links-frame template (set in __init__ —
            # the frame whose unroll actually OOM'd the 1024x bracket; a
            # drift test pins it to build_pass_links' real output schema)
            self._ckpt_bytes = self._ckpt_rows * self._row_bytes
            self._ckpt_level = derive_checkpoint_storage(
                self._ckpt_rows, self._heap_bytes, row_bytes=self._row_bytes
            )
        self._ckpt_level_resolved = True
        return self._ckpt_level

    def _note_frame_rows(
        self, rows: int | None, row_bytes: int | None = None
    ) -> None:
        """Escalate the derived checkpoint level when a pass's exact pairs
        (its block statistics) bound a bigger links frame than the
        census-row proxy
        (r10, advisor: a pass emitting MULTIPLES of census rows —
        nickname-style record multiplication — could blow past half-heap
        while the census-seeded gate still said on-heap, the exact 1024×
        failure reached via row explosion instead of corpus size). The
        pairs upper-bound the links frame, so this only flips
        EARLY, and only one way: an auto-derived level never downgrades
        mid-run. Explicit levels and ``auto_pin=False`` are untouched.

        r11: takes the frame's schema-derived ``row_bytes`` and compares
        estimated BYTES, not rows — a wide frame escalates at fewer rows
        than a narrow one (r10 verdict top-next); ``None`` is the links
        frame's width (:data:`LINKS_FRAME_TEMPLATE`, which a test pins to
        the real links schema)."""
        if not rows or not self._derives_storage():
            return
        # in 'local' mode start_module's first _truncate already resolved
        # the level, so this seeds _ckpt_rows / _heap_bytes for free
        self._resolve_ckpt_level()
        rb = row_bytes if row_bytes else self._row_bytes
        est_bytes = rows * rb
        if est_bytes <= self._ckpt_bytes:
            return
        self._ckpt_bytes = est_bytes
        lvl = derive_checkpoint_storage(rows, self._heap_bytes, row_bytes=rb)
        if lvl is not None:
            self._ckpt_level = lvl

    # -- module lifecycle ---------------------------------------------------

    def start_module(self, cfg: ModuleConfig) -> None:
        self._module = cfg
        self._group = None
        self._reference_file = self.reference_files[cfg.reference_file_name]
        self._reference_schema = None
        # exclude raw input records already PIKed by earlier modules (J3)
        self._flush_census(
            anti_join(
                self.census,
                self.confirmed_piks.select("record_id_raw_input_file"),
                on="record_id_raw_input_file",
            )
        )
        self._links_flushed = _empty_frame(self.spark, LINKS_FRAME_TEMPLATE)

    def _flush_census(self, census: DataFrame) -> None:
        """Make ``census`` the module's records still eligible, a new
        census state: materialised (``_truncate``), and its rows counted
        by the action that materialises it."""
        self._census_rows = _observation()
        self._census_flushed = self._truncate(
            census.observe(self._census_rows, F.expr("count(1)").alias("rows"))
        )
        self._block_stats = {}

    @property
    def _census_to_match(self) -> DataFrame | None:
        """The module's records still eligible; with a group pending, the
        group's census minus its links' records, planned when read."""
        g = self._group
        if g is None:
            return self._census_flushed
        if g.census_left is None:
            g.census_left = anti_join(
                g.census, _linked_records(self._group_links(g)), on="record_id"
            )
        return g.census_left

    @property
    def _provisional_links(self) -> DataFrame | None:
        """The module's links so far; with a group pending, the links
        before it plus the group's, planned when read."""
        g = self._group
        if g is None:
            return self._links_flushed
        if g.provisional is None:
            g.provisional = g.links_before.unionByName(self._group_links(g))
        return g.provisional

    def _block_on(self, pass_cfg: PassConfig) -> tuple[str, ...]:
        return tuple(self._module.cut_columns + pass_cfg.blocking_columns)

    def _columns_needed(self, pass_cfg: PassConfig) -> list[str]:
        """The columns a pass reads from either side, where present."""
        return list(
            dict.fromkeys(
                ["record_id", *self._block_on(pass_cfg), *self._module.matching_columns]
            )
        )

    def _pass_sides(
        self, pass_cfg: PassConfig, census: DataFrame | None = None
    ) -> tuple[DataFrame, DataFrame, list[str]]:
        """The pass's census side (``census``, default the records still
        to match), reference side and blocking keys."""
        columns_needed = self._columns_needed(pass_cfg)
        census_side = self._census_to_match if census is None else census
        if pass_cfg.switch_names:
            census_side = switch_first_and_last_names(census_side)
        census_side = census_side.select(
            *[c for c in columns_needed if c in census_side.columns],
            "record_id_raw_input_file",
        )
        ref_side = self._reference_file.select(
            *[c for c in columns_needed if c in self._reference_file.columns]
        )
        return census_side, ref_side, list(self._block_on(pass_cfg))

    def _pass_schemas(
        self, pass_cfg: PassConfig
    ) -> tuple[StructType, StructType, list[str]]:
        """The schemas of :meth:`_pass_sides`' two sides, worked out from
        the census' schema (read once per cascade) and the reference's
        (once per module) without building a frame: the name switch is a
        rename of the schema."""
        if self._census_schema is None:
            self._census_schema = self.census.schema
        if self._reference_schema is None:
            self._reference_schema = self._reference_file.schema
        census = self._census_schema
        if pass_cfg.switch_names:
            census = _switch_schema(census)
        columns_needed = self._columns_needed(pass_cfg)

        def pick(schema: StructType, names: list[str]) -> StructType:
            fields = {f.name: f for f in schema.fields}
            return StructType([fields[c] for c in names if c in fields])

        return (
            pick(census, columns_needed + ["record_id_raw_input_file"]),
            pick(self._reference_schema, columns_needed),
            list(self._block_on(pass_cfg)),
        )

    def build_pass_links(
        self,
        pass_cfg: PassConfig,
        num_partitions: int | None = None,
        salt_partitions: int | None = None,
    ) -> DataFrame:
        """The (lazy) new-links pipeline for a pass: block-join → gamma →
        score → threshold → select, as a group of one runs it (its
        statistics observed under a fresh observation). Exposed so plan
        pins can audit a pass without executing it — e.g. a bucketed
        reference file must show no shuffle exchange on its side of the
        block join. Stays fully lazy (no auto-pin estimation jobs here —
        ``run_matching_pass`` resolves the knobs via
        ``resolve_pass_plan``); ``num_partitions`` / ``salt_partitions``
        override the pass config's when given."""
        assert self._module is not None, "start_module first"
        if num_partitions is None:
            num_partitions = pass_cfg.num_partitions
        if salt_partitions is None:
            salt_partitions = pass_cfg.salt_partitions
        g = _PassGroup(
            self._census_to_match, self._census_rows, self._provisional_links
        )
        self._add_branch(g, pass_cfg, PassPlan(None, num_partitions, salt_partitions))
        return self._group_links(g)

    def _pass_model(self) -> LinkageModel:
        """The module's pass model: comparisons restricted to its matching
        columns, prior scaled by the cut-column Bayes factor (reference
        03:1977-2001). The same for every pass of the module."""
        cfg = self._module
        pass_model = self.model.subset(cfg.matching_columns)
        pass_model.bayes_factor_cut_columns = cfg.bayes_factor_cut_columns
        return pass_model

    @staticmethod
    def _pair_columns(model: LinkageModel, block_on: list[str]) -> list[str]:
        """The blocked pairs' projection to what scoring and the links
        frame read — the same names in the same order for every pass of a
        module. A compared column that is also a blocking key (e.g. the
        DOB parts in namesearch) comes out of the join unsuffixed, so it is
        aliased to both sides (values are equal by construction — the
        gamma lands on the exact-match level, exactly as in Splink where
        the blocking rule guarantees l.col = r.col)."""
        return [
            "record_id_l",
            "record_id_r",
            "record_id_raw_input_file_l",
            *[
                f"{sql_ident(c.col)} AS {sql_ident(c.col + side)}"
                if c.col in block_on
                else sql_ident(c.col + side)
                for c in model.comparisons
                for side in ("_l", "_r")
            ],
        ]

    def _links_projection(self) -> list[str]:
        """The scored pairs' projection to :data:`LINKS_FRAME_TEMPLATE`."""
        return [
            "record_id_l AS record_id_census_2030",
            "record_id_r AS record_id_reference_file",
            "record_id_raw_input_file_l AS record_id_raw_input_file",
            "match_weight",
            "match_probability",
            f"{_sql_string(self._module.name)} AS module_name",
            "pass_name",
        ]

    def resolve_pass_plan(self, pass_cfg: PassConfig) -> PassPlan:
        """The pass's effective physical knobs in ONE place (r9 advice:
        the pin and the pass used to duplicate this derivation — two
        copies that could drift).

        Each knob is the explicit config value, else (``auto_pin``) the
        one derived from the pass's exact block statistics
        (:meth:`_pass_stats`, at the census the pass reads):
        :func:`derive_pair_pin` for the partition pin (a pair-exploding
        pass can no longer silently re-enter the one-reduce-task regime
        because its author forgot the knob — SKEW_BENCH_r07: salt
        WITHOUT the pin measured useless) and :func:`derive_salt` for the
        salt (the OTHER half of that regime — the pin spreads distinct
        keys but cannot split ONE monster key; SKEW_BENCH_r08's auto row
        still hard-coded salt). Both size from the pass's pair-row schema
        (r10) and the measured string widths of its statistics (r11).
        With both knobs explicit, or ``auto_pin=False``, it reads no
        statistics."""
        pin = pass_cfg.num_partitions
        salt = pass_cfg.salt_partitions
        if not (self.auto_pin and (pin is None or salt is None)):
            return PassPlan(None, pin, salt)
        stats = self._pass_stats(pass_cfg)
        row_bytes = estimate_pair_row_bytes(*self._pass_schemas(pass_cfg), stats=stats)
        if pin is None:
            pin = derive_pair_pin(
                stats.pairs,
                stats.n_left,
                stats.n_right,
                shuffle_partitions(self.spark),
                pair_row_bytes=row_bytes,
                # the cap scales with the fleet (r11): 4096 on this box,
                # 32x slots on a real cluster; conf makes the dyn-alloc
                # max fleet win over live parallelism (r12)
                cap=derive_pin_cap(
                    self.spark.sparkContext.defaultParallelism, conf=self.spark.conf
                ),
            )
        if salt is None:
            salt = derive_salt(stats.max_key_pairs, pair_row_bytes=row_bytes)
        return PassPlan(stats, pin, salt)

    def _may_group(self, pass_cfg: PassConfig) -> bool:
        """Whether the pass may run in a group: both knobs left to
        derivation (its plan decides the rest)."""
        return (
            self.auto_pin
            and pass_cfg.num_partitions is None
            and pass_cfg.salt_partitions is None
        )

    def _stats_key(self, pass_cfg: PassConfig) -> tuple:
        # the module fixes the sides' other columns
        return self._block_on(pass_cfg), pass_cfg.switch_names

    def _pass_stats(self, pass_cfg: PassConfig) -> PairStats:
        """The pass's exact block statistics at the current census state
        (the records still eligible at module start or the last flush,
        which a pending group reads). On a miss ONE
        :func:`block_statistics` query computes them for this pass and,
        when it may join a group, for the module's later passes that may
        too: they read the same census until a group of one or a full
        group flushes it."""
        key = self._stats_key(pass_cfg)
        if key not in self._block_stats:
            passes = [pass_cfg]
            if self._may_group(pass_cfg):
                config = self._module.passes
                if pass_cfg in config:
                    later = config[config.index(pass_cfg) + 1 :]
                    passes += [p for p in later if self._may_group(p)]
            stats = block_statistics(
                self._census_flushed,
                self._reference_file,
                [self._block_pass(p) for p in passes],
            )
            self._block_stats.update(zip(map(self._stats_key, passes), stats))
        return self._block_stats[key]

    def _block_pass(self, pass_cfg: PassConfig) -> BlockPass:
        """The pass as :func:`block_statistics` reads it from the census
        and the reference: its sides' columns (:meth:`_pass_schemas`),
        each read from the column of that name, or under the name switch
        from the transposed one."""
        census, ref, keys = self._pass_schemas(pass_cfg)
        switched = (
            _switched_names(self._census_schema.names) if pass_cfg.switch_names else {}
        )
        return BlockPass(
            tuple(keys),
            {c: switched.get(c, c) for c in census.names},
            {c: c for c in ref.names},
        )

    def _groupable(self, plan: PassPlan) -> bool:
        """Whether a plan lets its pass run in a group: no pin, no salt,
        and pairs that leave the derived checkpoint storage level as it
        is (they bound the group's links frame, which is checkpointed)."""
        if plan.num_partitions is not None or plan.salt_partitions is not None:
            return False
        if not self._derives_storage():
            return True
        self._resolve_ckpt_level()
        # the links frame is the checkpointed one: LINKS_FRAME_TEMPLATE's
        # width, pinned to build_pass_links' schema by a test
        return (
            derive_checkpoint_storage(
                plan.stats.pairs, self._heap_bytes, row_bytes=self._row_bytes
            )
            is None
        )

    def run_matching_pass(self, pass_cfg: PassConfig) -> None:
        """Run one pass. A pass that may group and whose plan derives no
        knob (:meth:`_groupable`) joins the pending group while the
        group's pairs stay within :data:`PASS_GROUP_MAX_PAIRS`, else it
        flushes the group and starts a new one; no job runs but, at a new
        census state, the statistics query. Any other pass flushes the
        group and runs as a group of one (see the module docstring)."""
        assert self._module is not None, "start_module first"
        if self._may_group(pass_cfg):
            plan = self.resolve_pass_plan(pass_cfg)
            g = self._group
            if g is not None and not (
                self._groupable(plan)
                and g.pairs + plan.stats.pairs <= PASS_GROUP_MAX_PAIRS
            ):
                self._flush_group()
                plan = self.resolve_pass_plan(pass_cfg)
            if self._groupable(plan):
                self._add_to_group(pass_cfg, plan)
                return
        self._flush_group()
        plan = self.resolve_pass_plan(pass_cfg)
        # escalate the checkpoint storage gate BEFORE this pass's links
        # frame is checkpointed — the pass's pairs bound its rows
        self._note_frame_rows(plan.stats.pairs if plan.stats is not None else None)
        self._add_to_group(
            pass_cfg,
            plan,
            storage_level=self._ckpt_level if self.checkpoint == "local" else None,
        )
        self._flush_group()

    def _add_to_group(
        self,
        pass_cfg: PassConfig,
        plan: PassPlan,
        storage_level: StorageLevel | None = None,
    ) -> None:
        """Add a pass to the pending group, or start one (see
        :meth:`_add_branch`)."""
        if self._group is None:
            self._group = _PassGroup(
                self._census_to_match, self._census_rows, self._provisional_links
            )
        self._add_branch(self._group, pass_cfg, plan, storage_level)

    def _add_branch(
        self,
        g: _PassGroup,
        pass_cfg: PassConfig,
        plan: PassPlan,
        storage_level: StorageLevel | None = None,
    ) -> None:
        """Add a pass to ``g``: only its ``blocked_pairs`` branch is built,
        at the group's census, with the plan's knobs (none in a group of
        several: its statistics derived pin, salt and the checkpoint
        storage level all None, and its pairs, at the group's census,
        bound its links there), and tagged with its index in the group
        (``__pass``), its threshold (``__t``) and its name. The group's
        scored union, window, links and anti-join are planned once, when
        read (:meth:`_group_links`, ``_provisional_links``,
        ``_census_to_match``) or flushed, so a group of k passes is
        planned once, not k times."""
        if plan.stats is not None:
            g.pairs += plan.stats.pairs
        census_side, ref_side, block_on = self._pass_sides(pass_cfg, g.census)
        pairs = blocked_pairs(
            census_side,
            ref_side,
            block_on,
            salt_partitions=plan.salt_partitions,
            num_partitions=plan.num_partitions,
        )
        g.branches.append(
            pairs.selectExpr(
                *self._pair_columns(self._pass_model(), block_on),
                f"{len(g.branches)} AS __pass",
                f"CAST('{float(pass_cfg.probability_threshold)!r}' AS DOUBLE) AS __t",
                f"{_sql_string(pass_cfg.name)} AS pass_name",
            )
        )
        g.passes.append(
            functools.partial(
                PassStats,
                self._module.name,
                pass_cfg.name,
                num_partitions=plan.num_partitions,
                salt_partitions=plan.salt_partitions,
                storage_level=storage_level,
            )
        )
        g.links = g.provisional = g.census_left = None

    def _group_links(self, g: _PassGroup) -> DataFrame:
        """The group's links: one ``score_pairs`` over the union of its
        branches, planned on first read and kept until a pass joins. Each
        plan observes its passes' statistics (module docstring) under a
        fresh observation: a plan read mid-group may never run."""
        if g.links is not None:
            return g.links
        scored = score_pairs(
            functools.reduce(DataFrame.union, g.branches), self._pass_model()
        )
        g.metrics = _observation()

        def observed(df: DataFrame, **metrics: str) -> DataFrame:
            # each metric: one aggregate per pass k, the template's {k}
            return df.observe(
                g.metrics,
                *[
                    F.expr(
                        "array({})".format(
                            ", ".join(
                                template.format(k=k) for k in range(len(g.branches))
                            )
                        )
                    ).alias(name)
                    for name, template in metrics.items()
                ],
            )

        if len(g.branches) == 1:
            # a single pass: its links are the pairs over its threshold,
            # and the group costs what the pass alone costs. The observed
            # node also keeps the threshold Filter above the scoring
            # projection: without it the optimizer pushed the Filter,
            # with the whole score inlined (33 Jaro-Winkler calls where
            # the projection makes 3), into the block join's condition;
            # at the 8x rung (tools/bench_linkage.py, 186M pairs in one
            # pass, local[4]) that cascade took 555.6 s against 100.1 s
            kept = observed(
                scored, pairs="count(1)", links="count_if(match_probability >= __t)"
            ).where("match_probability >= __t")
        else:
            # the threshold stays inside the window: a probability Filter
            # below it would be pushed through the Union into every
            # branch, where constraint propagation over the twice-aliased
            # key columns took the optimizer seconds per module. A record's
            # __rows rows add 1/__rows each, so summing them over the
            # records whose first linking pass is k counts those records
            # once each (rounded: no DISTINCT in an observation)
            windowed = scored.selectExpr(
                "*", "CASE WHEN match_probability >= __t THEN __pass END AS __hit"
            ).selectExpr(
                "*",
                "min(__hit) OVER (PARTITION BY record_id_l) AS __first",
                "count(1) OVER (PARTITION BY record_id_l) AS __rows",
            )
            kept = observed(
                windowed,
                pairs="count_if(__pass = {k} AND coalesce(__first >= {k}, true))",
                links="count_if(__pass = {k} AND __hit = __first)",
                records="coalesce(sum(IF(__first = {k}, 1.0D / __rows, 0.0D)), 0.0D)",
            ).where("__hit = __first")
        g.links = kept.selectExpr(*self._links_projection())
        return g.links

    def _flush_group(self, census: bool = True) -> DataFrame | None:
        """Plan the pending group (once: :meth:`_group_links`), materialise
        its links and, with ``census``, the records still eligible after
        it; returns the group's links (None when no group is pending). The
        one place the cross-pass state moves past a group, of one pass or
        of several. A single-pass group has no window to count the records
        it links, so it always materialises that census and counts them
        there."""
        g, self._group = self._group, None
        if g is None:
            return None
        single = len(g.branches) == 1
        links = self._truncate(self._group_links(g))
        self._links_flushed = g.links_before.unionByName(links)
        if census or single:
            # drop linked linkage records, NOT raw records — a nickname
            # variant matching doesn't stop the canonical record
            self._flush_census(
                anti_join(g.census, _linked_records(links), on="record_id")
            )
        observed = _ObservedGroup(g.passes, g.census_rows, g.metrics)
        if single and self.checkpoint in ("persist", "off"):
            observed.census_left = self._census_flushed
        elif single:
            observed.rows_left = self._census_rows
        self._observed_groups.append(observed)
        return links

    def confirm_piks(self) -> DataFrame:
        """Module post-search confirm (reference 03:2132-2234): attach PIKs,
        drop deceased, argmax by probability per raw record, drop raw
        records whose best links disagree on PIK, dedup deterministically.
        Returns the newly confirmed links and folds them into the
        accumulator."""
        assert self._module is not None
        cfg = self._module
        # the records still eligible are not needed past this point (a
        # single-pass group still counts them: _flush_group)
        self._flush_group(census=False)

        piks = self._reference_file.select(
            F.col("record_id").alias("record_id_reference_file"), "pik"
        )
        links = self._provisional_links.join(
            piks, on="record_id_reference_file", how="left"
        )

        deceased = None
        if self.dates_of_death is not None:
            dod = self.dates_of_death.select("pik", "date_of_death")
            deceased = _observation()
            census_day = f"DATE'{CENSUS_DAY}'"
            links = (
                links.join(F.broadcast(dod), on="pik", how="left")
                .observe(
                    deceased,
                    F.expr(f"count_if(date_of_death <= {census_day})").alias("rows"),
                )
                .where(f"date_of_death IS NULL OR date_of_death > {census_day}")
                .drop("date_of_death")
            )

        # best links per raw input record (ties kept), then drop records
        # whose tied best links name >1 distinct PIK (reference 03:2171-2207)
        best = max_per_group_with_ties(
            links, ["record_id_raw_input_file"], "match_probability"
        )
        # single-PIK gate as a WINDOW over the same partition key the
        # best-window and the keep_best row_number already use (r15,
        # guide §2.4/§3.3): the former groupBy(count_distinct) + left_semi
        # self-join put `best` under TWO consumers, and with nothing
        # persisted the whole module link pipeline — blocking, gammas,
        # scoring — executed twice, once per semi-join side (measured: the
        # duplicated subtree was both 1.25s broadcast builds in the sf0.1
        # plan). collect_set drops NULL piks exactly as count_distinct
        # ignored them, so the kept record set is identical; one exchange
        # now feeds max → gate → row_number. A raw record's __nbest rows
        # add 1/__nbest each, so the sum over the records it drops counts
        # them once each.
        multi_pik = _observation()
        gated = (
            best.selectExpr(
                "*",
                "size(collect_set(pik) OVER (PARTITION BY record_id_raw_input_file))"
                " AS __npik",
                "count(1) OVER (PARTITION BY record_id_raw_input_file) AS __nbest",
            )
            .observe(
                multi_pik,
                F.expr(
                    "coalesce(sum(IF(__npik > 1, 1.0D / __nbest, 0.0D)), 0.0D)"
                ).alias("rows"),
            )
            .where("__npik <= 1")
        )
        confirmed = keep_best(
            gated,
            keys=["record_id_raw_input_file"],
            order_by=[F.desc("match_probability")],
            tiebreak="record_id_census_2030",
        ).select(
            "record_id_raw_input_file",
            "record_id_census_2030",
            "record_id_reference_file",
            "pik",
            "module_name",
            "pass_name",
            "match_probability",
        )
        self._observed_confirms.append((cfg.name, deceased, multi_pik))

        self.confirmed_piks = self._truncate(
            self.confirmed_piks.unionByName(confirmed)
        )
        self._module = None
        self._census_flushed = None
        self._links_flushed = None
        return confirmed

    # -- statistics ---------------------------------------------------------

    @property
    def stats(self) -> list[PassStats]:
        """Each pass's :class:`PassStats`, in the order the passes ran; a
        pending group's passes appear once it is flushed. Raises
        ``RuntimeError`` when no action has run the frames they are
        observed on yet (the 'persist' / 'off' modes)."""
        out = []
        for g in self._observed_groups:
            m = self._metrics(g.metrics)
            eligible = self._metrics(g.census_rows)["rows"]
            if "records" in m:
                linked = [round(n) for n in m["records"]]
            elif g.census_left is not None:
                linked = [eligible - g.census_left.count()]
            else:
                linked = [eligible - self._metrics(g.rows_left)["rows"]]
            for stats, pairs, links, n in zip(g.passes, m["pairs"], m["links"], linked):
                eligible -= n
                out.append(stats(pairs, links, eligible))
        return out

    @property
    def confirm_stats(self) -> list[ConfirmStats]:
        """Each module's :class:`ConfirmStats`; raises as :attr:`stats`."""
        return [
            ConfirmStats(
                module,
                None if deceased is None else self._metrics(deceased)["rows"],
                round(self._metrics(multi_pik)["rows"]),
            )
            for module, deceased, multi_pik in self._observed_confirms
        ]

    def _metrics(self, observation: Observation) -> dict:
        """What ``observation`` observed. Raises instead of waiting when no
        action has run its frame: ``Observation.get`` blocks until one
        does, forever if none will."""
        done = observation._jo.future().isCompleted
        if not done():
            # the action that ran the frame has posted its end event; the
            # listener bus hands the metrics over from it
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            if not done():
                raise RuntimeError(_NOT_OBSERVED)
        return observation.get

    # -- whole-cascade driver ----------------------------------------------

    def run(self, config: CascadeConfig) -> DataFrame:
        for mod in config.modules:
            self.start_module(mod)
            for p in mod.passes:
                self.run_matching_pass(p)
            self.confirm_piks()
        self.release()
        return self.confirmed_piks

    def release(self) -> None:
        """Unpersist the census cache the cascade made (one the caller
        made before passing the census in stays). Call it once the frames
        that read the census have been consumed: they stay valid after,
        but recompute the census from its plan. Checkpoints need no call:
        their blocks go when their frames are garbage-collected."""
        if self._owns_census_cache:
            self.census.unpersist()

    def attach_piks(self, census_raw: DataFrame) -> DataFrame:
        """Final 1:1 PIK attach onto the raw input file (J8; reference
        03:3274-3285)."""
        piks = self.confirmed_piks.select(
            F.col("record_id_raw_input_file").alias("record_id"), "pik"
        )
        return census_raw.join(piks, on="record_id", how="left")


def default_cascade_config(salt_hot_passes: bool = False) -> CascadeConfig:
    """The reference's 4-module / 15-pass configuration (FIXTURES.md §8;
    reference 03_link_datasets.ipynb:2332-3210)."""
    name_dob_matching = [
        "first_name_15",
        "last_name_12",
        "middle_initial",
        "day_of_birth",
        "month_of_birth",
        "year_of_birth",
    ]
    salt = 10 if salt_hot_passes else None
    return CascadeConfig(
        modules=[
            ModuleConfig(
                name="geosearch",
                reference_file_name="geobase_reference_file",
                cut_columns=["zip3"],
                matching_columns=name_dob_matching + ["geokey"],
                passes=[
                    PassConfig("geokey", ["geokey_for_blocking"], salt_partitions=salt),
                    PassConfig(
                        "geokey name switch",
                        ["geokey_for_blocking"],
                        switch_names=True,
                        salt_partitions=salt,
                    ),
                    PassConfig(
                        "street address",
                        ["street_number_for_blocking", "street_name_for_blocking_soundex"],
                        salt_partitions=salt,
                    ),
                    PassConfig(
                        "street address name switch",
                        ["street_number_for_blocking", "street_name_for_blocking_soundex"],
                        switch_names=True,
                        salt_partitions=salt,
                    ),
                    PassConfig(
                        "name and birth year",
                        ["first_name_2", "last_name_2", "year_of_birth"],
                    ),
                ],
            ),
            ModuleConfig(
                name="namesearch",
                reference_file_name="name_dob_reference_file",
                cut_columns=["first_initial_cut", "last_initial_cut"],
                matching_columns=name_dob_matching,
                passes=[
                    PassConfig(
                        "dob and nysiis",
                        [
                            "day_of_birth",
                            "month_of_birth",
                            "year_of_birth",
                            "first_name_nysiis",
                            "last_name_nysiis",
                        ],
                    ),
                    PassConfig(
                        "dob and first initial",
                        [
                            "day_of_birth",
                            "month_of_birth",
                            "year_of_birth",
                            "first_name_1",
                            "last_name_1",
                        ],
                    ),
                    PassConfig(
                        "birth year and name_2",
                        ["year_of_birth", "first_name_2", "last_name_2"],
                    ),
                    PassConfig(
                        "birth day-month and name_2",
                        ["day_of_birth", "month_of_birth", "first_name_2", "last_name_2"],
                    ),
                ],
            ),
            ModuleConfig(
                name="dobsearch",
                reference_file_name="name_dob_reference_file",
                cut_columns=["day_of_birth", "month_of_birth"],
                matching_columns=name_dob_matching,
                passes=[
                    PassConfig(
                        "name_1 switched",
                        ["first_name_1", "last_name_1"],
                        switch_names=True,
                    ),
                    PassConfig("name_3", ["first_name_3", "last_name_3"]),
                    PassConfig(
                        "reverse soundex",
                        ["first_name_reverse_soundex", "last_name_reverse_soundex"],
                    ),
                    PassConfig("first_2 and year", ["first_name_2", "year_of_birth"]),
                ],
            ),
            ModuleConfig(
                name="hhcompsearch",
                reference_file_name="hhcomp_reference_file",
                cut_columns=["pseudo_household_id"],
                matching_columns=name_dob_matching,
                bayes_factor_cut_columns=1000.0,
                passes=[
                    PassConfig("name_1", ["first_name_1", "last_name_1"]),
                    PassConfig("birth year", ["year_of_birth"]),
                ],
            ),
        ]
    )
