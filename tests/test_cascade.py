"""End-to-end cascade on a hand-built person fixture (FIXTURES.md schemas).

Exercises: preprocessing (nicknames, fake names, GQ suppression, derived
variables), geosearch geokey pass + namesearch, deceased-link dropping,
multi-PIK conflict dropping, ≤1-PIK invariant, final 1:1 attach.
"""

import dataclasses
import re

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.operators.gamma import (
    banded_comparison,
    exact_comparison,
    jw_comparison,
)
from person_linkage_case_study_spark.operators.scoring import LinkageModel
from person_linkage_case_study_spark.plans.cascade import (
    CONFIRMED_FRAME_TEMPLATE,
    LINKS_FRAME_TEMPLATE,
    CascadeConfig,
    ModuleConfig,
    PassConfig,
    PersonLinkageCascade,
    pass_group_plan_problems,
    switch_first_and_last_names,
)
from person_linkage_case_study_spark.plans.preprocess import (
    preprocess_census,
    preprocess_reference_file,
)

CENSUS_COLS = [
    "record_id", "first_name", "middle_initial", "last_name", "date_of_birth",
    "street_number", "street_name", "unit_number", "city", "state", "zipcode",
    "housing_type",
]

REF_COLS = [
    "record_id", "pik", "ssn", "first_name", "middle_name", "last_name",
    "date_of_birth", "mailing_address_street_number", "mailing_address_street_name",
    "mailing_address_unit_number", "mailing_address_city", "mailing_address_state",
    "mailing_address_zipcode",
]


@pytest.fixture(scope="module")
def fixture(spark):
    census_rows = [
        # exact match to P1 by geokey
        ("c1", "Alice", "M", "Smith", "01/15/1980", "123", "Main Street", None,
         "Springfield", "MA", "01101", "Household"),
        # nickname Bill -> William, matches P2
        ("c2", "Bill", "J", "Jones", "03/02/1975", "45", "Oak Str", None,
         "Springfield", "MA", "01101", "Household"),
        # linked to deceased P4 -> dropped at confirm
        ("c4", "Carol", "A", "White", "07/04/1960", "9", "Elm Street", None,
         "Boston", "MA", "02134", "Household"),
        # ties to two piks (P5a/P5b) at equal probability -> conflict drop
        ("c5", "Dave", None, "Green", "11/30/1990", "77", "Pine Street", None,
         "Boston", "MA", "02135", "Household"),
        # no match anywhere
        ("c6", "Eve", "Q", "Black", "05/05/2000", "1", "Lake Street", None,
         "Worcester", "MA", "01601", "Household"),
        # fake name, but matches P6 on last name + geokey
        ("c7", "Adult", "Z", "Stone", "09/09/1985", "8", "Hill Street", None,
         "Boston", "MA", "02136", "Household"),
    ]
    census = spark.createDataFrame(
        census_rows, ", ".join(f"{c} string" for c in CENSUS_COLS)
    )

    geobase_rows = [
        ("g1", "P1", "111-11-1111", "Alice", "Marie", "Smith", "19800115",
         "123", "Main St", None, "Springfield", "MA", "01101"),
        ("g2", "P2", "222-22-2222", "William", "John", "Jones", "19750302",
         "45", "Oak St", None, "Springfield", "MA", "01101"),
        ("g4", "P4", "444-44-4444", "Carol", "Ann", "White", "19600704",
         "9", "Elm St", None, "Boston", "MA", "02134"),
        ("g5a", "P5A", "555-55-5551", "Dave", None, "Green", "19901130",
         "77", "Pine St", None, "Boston", "MA", "02135"),
        ("g5b", "P5B", "555-55-5552", "Dave", None, "Green", "19901130",
         "77", "Pine St", None, "Boston", "MA", "02135"),
        ("g6", "P6", "666-66-6666", "Xavier", None, "Stone", "19850909",
         "8", "Hill St", None, "Boston", "MA", "02136"),
    ]
    geobase = spark.createDataFrame(
        geobase_rows, ", ".join(f"{c} string" for c in REF_COLS)
    )

    name_dob = spark.createDataFrame(
        [r[:7] for r in geobase_rows],
        "record_id string, pik string, ssn string, first_name string, "
        "middle_name string, last_name string, date_of_birth string",
    )

    fake_names = spark.createDataFrame([("ADULT",), ("ANONYMOUS",)], ["fake_name"])
    dates_of_death = spark.createDataFrame(
        [("P4", "20291201"), ("P6", "20350101")], ["pik", "dod_raw"]
    ).select("pik", F.to_date("dod_raw", "yyyyMMdd").alias("date_of_death"))

    return census, geobase, name_dob, fake_names, dates_of_death


def make_model() -> LinkageModel:
    comps = []
    for col, th in [("first_name_15", (0.9, 0.75)), ("last_name_12", (0.9, 0.75))]:
        c = jw_comparison(col, thresholds=th)
        c.m = [0.02, 0.05, 0.2, 0.73]
        c.u = [0.85, 0.08, 0.05, 0.02]
        comps.append(c)
    mi = exact_comparison("middle_initial")
    mi.m = [0.2, 0.8]
    mi.u = [0.95, 0.05]
    comps.append(mi)
    for col, band in [("day_of_birth", 5), ("month_of_birth", 3), ("year_of_birth", 5)]:
        c = banded_comparison(col, band)
        c.m = [0.05, 0.15, 0.8]
        c.u = [0.85, 0.1, 0.05]
        comps.append(c)
    gk = jw_comparison("geokey", thresholds=(0.9, 0.65))
    gk.m = [0.05, 0.1, 0.25, 0.6]
    gk.u = [0.9, 0.06, 0.03, 0.01]
    comps.append(gk)
    return LinkageModel(comps, lambda_prior=1e-3)


#: two modules of one pass each: each module's lone pass runs as a group
#: of its own that flushes at confirm
TWO_MODULES = CascadeConfig(
    modules=[
        ModuleConfig(
            name="geosearch",
            reference_file_name="geobase_reference_file",
            cut_columns=["zip3"],
            matching_columns=[
                "first_name_15", "last_name_12", "middle_initial",
                "day_of_birth", "month_of_birth", "year_of_birth", "geokey",
            ],
            passes=[PassConfig("geokey", ["geokey_for_blocking"], 0.9)],
        ),
        ModuleConfig(
            name="namesearch",
            reference_file_name="name_dob_reference_file",
            cut_columns=["first_initial_cut", "last_initial_cut"],
            matching_columns=[
                "first_name_15", "last_name_12", "middle_initial",
                "day_of_birth", "month_of_birth", "year_of_birth",
            ],
            passes=[
                PassConfig(
                    "dob and nysiis",
                    ["day_of_birth", "month_of_birth", "year_of_birth",
                     "first_name_nysiis", "last_name_nysiis"],
                    0.9,
                ),
            ],
        ),
    ]
)


@pytest.fixture(scope="module")
def cascade_result(spark, fixture):
    census, geobase, name_dob, fake_names, dod = fixture
    prepped_census = preprocess_census(census, fake_names, gq_threshold=99)
    prepped_geobase = preprocess_reference_file(geobase)
    prepped_name_dob = preprocess_reference_file(name_dob, has_address=False)

    cascade = PersonLinkageCascade(
        spark,
        prepped_census,
        {
            "geobase_reference_file": prepped_geobase,
            "name_dob_reference_file": prepped_name_dob,
        },
        make_model(),
        dates_of_death=dod,
    )
    confirmed = cascade.run(TWO_MODULES)
    return cascade, confirmed.collect()


def test_expected_piks_confirmed(cascade_result):
    _, rows = cascade_result
    by_raw = {r["record_id_raw_input_file"]: r for r in rows}
    assert by_raw["c1"]["pik"] == "P1"  # exact geokey match
    assert by_raw["c2"]["pik"] == "P2"  # via nickname expansion Bill->William


def test_deceased_link_dropped(cascade_result):
    _, rows = cascade_result
    assert all(r["record_id_raw_input_file"] != "c4" for r in rows)


def test_multi_pik_conflict_dropped(cascade_result):
    _, rows = cascade_result
    assert all(r["record_id_raw_input_file"] != "c5" for r in rows)


def test_at_most_one_pik_per_raw_record(cascade_result):
    _, rows = cascade_result
    raws = [r["record_id_raw_input_file"] for r in rows]
    assert len(raws) == len(set(raws))


def test_pass_stats_recorded(cascade_result):
    cascade, _ = cascade_result
    assert len(cascade.stats) == 2
    assert cascade.stats[0].module == "geosearch"
    assert cascade.stats[0].n_links >= 2


def test_final_attach_one_to_one(spark, fixture, cascade_result):
    census, *_ = fixture
    cascade, rows = cascade_result
    piked = cascade.attach_piks(census)
    assert piked.count() == census.count()
    got = {r["record_id"]: r["pik"] for r in piked.collect()}
    assert got["c1"] == "P1"
    assert got["c6"] is None


def test_full_pvs_pipeline(spark, fixture):
    """All four modules end-to-end via run_full_pvs_cascade, including the
    mid-cascade HHComp reference-file construction and final 1:1 attach."""
    from person_linkage_case_study_spark.plans.pipeline import run_full_pvs_cascade

    census, geobase, name_dob, fake_names, dod = fixture
    prepped_census = preprocess_census(census, fake_names, gq_threshold=99)
    prepped_geobase = preprocess_reference_file(geobase)
    prepped_name_dob = preprocess_reference_file(name_dob, has_address=False)

    confirmed, census_piked, cascade = run_full_pvs_cascade(
        spark,
        prepped_census,
        prepped_geobase,
        prepped_name_dob,
        make_model(),
        dates_of_death=dod,
        census_raw=census,
    )
    rows = confirmed.collect()
    by_raw = {r["record_id_raw_input_file"]: r["pik"] for r in rows}
    assert by_raw.get("c1") == "P1"
    assert by_raw.get("c2") == "P2"
    assert "c4" not in by_raw  # deceased
    raws = [r["record_id_raw_input_file"] for r in rows]
    assert len(raws) == len(set(raws))  # ≤1 PIK per raw record
    assert census_piked.count() == census.count()
    # 15 passes ran across 4 modules, and the accumulator schema is intact
    assert [s.module for s in cascade.stats] == ["geosearch"] * 5 + [
        "namesearch"] * 4 + ["dobsearch"] * 4 + ["hhcompsearch"] * 2
    assert set(confirmed.columns) >= {
        "record_id_raw_input_file", "pik", "module_name", "pass_name",
    }


def test_checkpoint_off_matches_local(spark, fixture, cascade_result):
    """checkpoint='off' (no lineage truncation — sound for shallow
    configs) must confirm exactly the same PIKs as the default 'local'
    mode on the 2-module fixture cascade."""
    census, geobase, name_dob, fake_names, dod = fixture
    prepped_census = preprocess_census(census, fake_names, gq_threshold=99)
    off = PersonLinkageCascade(
        spark,
        prepped_census,
        {
            "geobase_reference_file": preprocess_reference_file(geobase),
            "name_dob_reference_file": preprocess_reference_file(
                name_dob, has_address=False
            ),
        },
        make_model(),
        dates_of_death=dod,
        checkpoint="off",
    )
    got = {
        (r["record_id_raw_input_file"], r["pik"])
        for r in off.run(TWO_MODULES).collect()
    }
    _, confirmed_rows = cascade_result
    want = {(r["record_id_raw_input_file"], r["pik"]) for r in confirmed_rows}
    assert got == want


def test_checkpoint_storage_derivation(spark, fixture):
    """The checkpoint storage level is the r9-late auto-derived knob:
    the measured bracket (512x's ~76.8M-row frame fit a 64g heap,
    1024x's ~153.6M-row frame OOM'd it) must land on the correct sides
    of the gate; explicit levels and auto_pin=False override; a
    fixture-sized cascade derives None (Spark's on-heap default)."""
    from pyspark import StorageLevel

    from person_linkage_case_study_spark.plans.cascade import (
        derive_checkpoint_storage,
    )
    from person_linkage_case_study_spark.session import (
        executor_heap_bytes,
        parse_mem_bytes,
    )

    heap64 = 64 << 30
    assert derive_checkpoint_storage(76_800_000, heap64) is None  # 512x: fit
    lvl = derive_checkpoint_storage(153_600_000, heap64)  # 1024x: OOM'd
    assert lvl is not None and lvl.useDisk and not lvl.useMemory
    assert derive_checkpoint_storage(None, heap64) is None
    assert derive_checkpoint_storage(1_000_000, None) is None

    assert parse_mem_bytes("64g") == 64 << 30
    assert parse_mem_bytes("8192m") == 8 << 30
    assert parse_mem_bytes("1024") == 1024
    with pytest.raises(ValueError):
        parse_mem_bytes("auto")
    assert executor_heap_bytes(spark) > 0
    # r10 (advisor): Spark-legal two-letter suffixes parse instead of
    # silently falling through; and on a local master an (inert)
    # spark.executor.memory conf is IGNORED — the heap is the driver
    # JVM's real -Xmx, not whatever a shared conf template claims
    assert parse_mem_bytes("64gb") == 64 << 30
    assert parse_mem_bytes("8192mb") == 8 << 30
    assert parse_mem_bytes(" 2GB ") == 2 << 30
    # duck-typed sessions (spark.executor.memory is a static conf — a
    # real local session can't set it at runtime, which is the point):
    # local master ignores the inert conf and reads the JVM's maxMemory;
    # a cluster master honors the conf, including the 'gb' spelling
    import types

    def _fake_spark(master, conf_val, max_mem):
        runtime = types.SimpleNamespace(maxMemory=lambda: max_mem)
        jvm = types.SimpleNamespace(
            java=types.SimpleNamespace(
                lang=types.SimpleNamespace(
                    Runtime=types.SimpleNamespace(getRuntime=lambda: runtime)
                )
            )
        )
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(master=master, _jvm=jvm),
            conf=types.SimpleNamespace(get=lambda k, d=None: conf_val),
        )

    assert executor_heap_bytes(_fake_spark("local[32]", "512t", 123456)) == 123456
    assert (
        executor_heap_bytes(_fake_spark("spark://h:7077", "64gb", 999))
        == 64 << 30
    )
    # r11 (advisor): 'local-cluster[n,c,m]' spawns REAL separate executor
    # JVMs — spark.executor.memory is meaningful there and the driver's
    # maxMemory is the wrong denominator, so it must NOT take the bare
    # local[*] shortcut
    assert (
        executor_heap_bytes(_fake_spark("local-cluster[2,2,4096]", "4g", 999))
        == 4 << 30
    )

    census, geobase, name_dob, fake_names, dod = fixture
    prepped = preprocess_census(census, fake_names, gq_threshold=99)
    refs = {
        "geobase_reference_file": preprocess_reference_file(geobase),
        "name_dob_reference_file": preprocess_reference_file(
            name_dob, has_address=False
        ),
    }
    auto = PersonLinkageCascade(spark, prepped, refs, make_model())
    assert auto._resolve_ckpt_level() is None  # tiny corpus: heap default
    explicit = PersonLinkageCascade(
        spark, prepped, refs, make_model(),
        checkpoint_storage_level=StorageLevel.DISK_ONLY,
    )
    assert explicit._resolve_ckpt_level() == StorageLevel.DISK_ONLY
    manual = PersonLinkageCascade(
        spark, prepped, refs, make_model(), auto_pin=False
    )
    assert manual._resolve_ckpt_level() is None


def test_pair_row_bytes_schema_derivation(spark):
    """r10: the pin/salt derivations size from the pass's ACTUAL pair-row
    schema instead of a constant 256 — at equal pair counts a wide pass
    (many matching columns) must derive a larger pin and salt than a
    narrow one, because its pair output is genuinely more bytes."""
    from person_linkage_case_study_spark.operators.blocking import (
        derive_pair_pin,
        derive_salt,
        estimate_pair_row_bytes,
    )

    narrow_l = spark.createDataFrame([], "k string, a string")
    narrow_r = spark.createDataFrame([], "k string, b string")
    wide_cols = ", ".join(f"m{i} string" for i in range(20))
    wide_l = spark.createDataFrame([], f"k string, {wide_cols}")
    wide_r = spark.createDataFrame([], f"k string, {wide_cols}")
    nb = estimate_pair_row_bytes(narrow_l, narrow_r, ["k"])
    wb = estimate_pair_row_bytes(wide_l, wide_r, ["k"])
    # keys counted once; every non-key column of both sides counted
    assert wb > nb >= 64

    pairs = 200_000_000
    pin_n = derive_pair_pin(pairs, 1000, 1000, 32, pair_row_bytes=nb)
    pin_w = derive_pair_pin(pairs, 1000, 1000, 32, pair_row_bytes=wb)
    assert pin_w > pin_n > 32

    salt_n = derive_salt(2_000_000, pair_row_bytes=nb)
    salt_w = derive_salt(2_000_000, pair_row_bytes=wb)
    assert salt_w > salt_n >= 2


def test_derive_pin_cap():
    """r11: the pin's partition-count ceiling derives from the fleet —
    floored at the measured 4096 so every local[32] measurement keeps
    its exact values, scaling as 32x slots so a 1000-executor cluster
    doesn't get 3.6 GB tasks out of a hard-coded constant."""
    from person_linkage_case_study_spark.operators.blocking import (
        derive_pair_pin,
        derive_pin_cap,
    )

    assert derive_pin_cap(32) == 4096  # this box: floor binds, unchanged
    assert derive_pin_cap(128) == 4096
    assert derive_pin_cap(8000) == 256_000  # 1000 x 8-core fleet
    assert derive_pin_cap(0) == 4096  # degenerate input: floor
    # at the cap the pin saturates instead of growing
    pin = derive_pair_pin(
        50_000_000_000, 10**6, 10**6, 32, pair_row_bytes=320,
        cap=derive_pin_cap(32),
    )
    assert pin == 4096

    # r12 (r11 verdict #5): under dynamic allocation defaultParallelism
    # reflects the executors alive at estimate time, not the max fleet —
    # the conf's maxExecutors x executor.cores ceiling wins when both
    # are explicitly set AND dyn-alloc is on. A plain dict mocks the
    # conf (same .get(key, default) surface as spark.conf / SparkConf).
    dyn_on = {
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": "1000",
        "spark.executor.cores": "8",
    }
    # early in the job only 2 executors x 8 cores are alive: the live
    # parallelism alone would floor-bind; the fleet ceiling corrects it
    assert derive_pin_cap(16, conf=dyn_on) == 256_000
    # scale-down mid-estimate must not SHRINK the cap below live slots
    assert derive_pin_cap(500_000, conf=dyn_on) == 32 * 500_000
    # dyn-alloc off: the conf is inert even when the keys are set
    assert derive_pin_cap(16, conf={**dyn_on, "spark.dynamicAllocation.enabled": "false"}) == 4096
    # missing either conf: fall back to defaultParallelism
    assert derive_pin_cap(16, conf={"spark.dynamicAllocation.enabled": "true"}) == 4096
    no_cores = dict(dyn_on)
    del no_cores["spark.executor.cores"]
    assert derive_pin_cap(16, conf=no_cores) == 4096
    # unparseable values: the live-parallelism path still holds
    assert derive_pin_cap(16, conf={**dyn_on, "spark.executor.cores": "oops"}) == 4096
    # local[32] live session conf: floor still binds (no dyn alloc here)
    from person_linkage_case_study_spark.session import get_spark

    sp = get_spark("test-pin-cap")
    assert derive_pin_cap(
        sp.sparkContext.defaultParallelism, conf=sp.conf
    ) == 4096


def test_pair_row_bytes_measured_string_widths(spark):
    """r11 (verdict): the estimate job's string-payload sums replace the
    16-byte short-string assumption — an address-heavy pass derives a
    LARGER row estimate than the constant; a short-fragment pass a
    smaller one. And the r10 advisor's self-join identity bug: when left
    IS right, the blocking keys must still be counted once, not zero
    times."""
    from person_linkage_case_study_spark.operators.blocking import (
        estimate_pair_row_bytes,
        estimate_pair_stats,
    )

    addr = "1600 PENNSYLVANIA AVENUE NORTHWEST APARTMENT 12B"  # 48 chars
    long_l = spark.createDataFrame([("k", addr)] * 4, ["blk", "address"])
    long_r = spark.createDataFrame([("k", addr)] * 4, ["blk", "address"])
    stats = estimate_pair_stats(long_l, long_r, ["blk"])
    assert stats.str_bytes_l == 4 * (1 + len(addr))  # key counted on left
    assert stats.str_bytes_r == 4 * len(addr)  # key excluded on right
    assumed = estimate_pair_row_bytes(long_l, long_r, ["blk"])
    measured = estimate_pair_row_bytes(long_l, long_r, ["blk"], stats=stats)
    # 3 string fields -> 16x3 = 48 assumed payload; measured is
    # ceil(49)+ceil(48) = 97 — the address pass no longer under-derives
    assert measured > assumed
    assert measured - assumed == 97 - 48

    # self-join pass: same OBJECT on both sides — keys counted once
    self_bytes = estimate_pair_row_bytes(long_l, long_l, ["blk"])
    two_obj = estimate_pair_row_bytes(
        long_l, spark.createDataFrame([("k", addr)] * 4, ["blk", "address"]),
        ["blk"],
    )
    assert self_bytes == two_obj

    # NULL strings contribute nothing; an empty side falls back to the
    # 16-byte assumption rather than dividing by zero
    with_nulls = spark.createDataFrame(
        [("k", None), ("k", addr)], ["blk", "address"]
    )
    st2 = estimate_pair_stats(with_nulls, long_r, ["blk"])
    assert st2.str_bytes_l == 2 * 1 + len(addr)  # 2 keys + 1 non-null addr
    empty = spark.createDataFrame([], "blk string, address string")
    st3 = estimate_pair_stats(empty, long_r, ["blk"])
    assert (st3.n_left, st3.str_bytes_l) == (0, 0)
    assert estimate_pair_row_bytes(empty, long_r, ["blk"], stats=st3) >= 64


def test_checkpoint_row_bytes_schema_derivation(spark, fixture):
    """r11 (verdict top-next): the checkpoint gate's row width is
    schema-derived, not the constant 350 — a WIDE links frame flips to
    DISK_ONLY at fewer rows than a narrow one; the links template pins
    build_pass_links' real output schema so the initial derivation can't
    drift; and the 512x/1024x measured bracket points stay on their
    correct sides at the template's derived width."""
    from pyspark.sql import types as T

    from person_linkage_case_study_spark.plans.cascade import (
        LINKS_FRAME_TEMPLATE,
        derive_checkpoint_storage,
        estimate_checkpoint_row_bytes,
    )

    # deserialized-object model: template = 40 + 7x8 + 5x48 + 2x16 = 368,
    # within ~11% of the 512x ladder's OBSERVED ~330 B/row
    tmpl_bytes = estimate_checkpoint_row_bytes(LINKS_FRAME_TEMPLATE)
    assert tmpl_bytes == 368

    # measured bracket at the derived width (was calibrated at 350):
    heap64 = 64 << 30
    assert derive_checkpoint_storage(76_800_000, heap64, row_bytes=tmpl_bytes) is None
    lvl = derive_checkpoint_storage(153_600_000, heap64, row_bytes=tmpl_bytes)
    assert lvl is not None and lvl.useDisk and not lvl.useMemory

    # a wide frame flips at FEWER rows than a narrow one
    wide = T.StructType(
        [T.StructField(f"m{i}", T.StringType()) for i in range(40)]
    )
    wide_bytes = estimate_checkpoint_row_bytes(wide)
    assert wide_bytes > tmpl_bytes
    rows_between = heap64 // 2 // wide_bytes + 1  # over wide gate, under narrow
    assert rows_between * tmpl_bytes <= heap64 // 2
    assert derive_checkpoint_storage(rows_between, heap64, row_bytes=wide_bytes)
    assert (
        derive_checkpoint_storage(rows_between, heap64, row_bytes=tmpl_bytes)
        is None
    )

    # template drift pin: the REAL build_pass_links output schema must
    # match LINKS_FRAME_TEMPLATE name-for-name, type-for-type
    census, geobase, name_dob, fake_names, dod = fixture
    prepped = preprocess_census(census, fake_names, gq_threshold=99)
    refs = {"geobase_reference_file": preprocess_reference_file(geobase)}
    c = PersonLinkageCascade(spark, prepped, refs, make_model())
    c.start_module(
        ModuleConfig(
            name="geosearch",
            reference_file_name="geobase_reference_file",
            cut_columns=["zip3"],
            matching_columns=[
                "first_name_15", "last_name_12", "middle_initial",
                "day_of_birth", "month_of_birth", "year_of_birth", "geokey",
            ],
            passes=[],
        )
    )
    links = c.build_pass_links(PassConfig("p", ["geokey_for_blocking"], 0.9))
    actual = tuple((f.name, f.dataType.typeName()) for f in links.schema.fields)
    assert actual == LINKS_FRAME_TEMPLATE
    # and the gate escalation uses the ACTUAL schema width: a wide
    # row_bytes flips the same row count the template width tolerates
    c._resolve_ckpt_level()
    assert c._ckpt_level is None
    c._heap_bytes = heap64  # pin the denominator to the bracket's heap
    c._note_frame_rows(rows_between, row_bytes=tmpl_bytes)
    assert c._ckpt_level is None
    c._note_frame_rows(rows_between, row_bytes=wide_bytes)
    assert c._ckpt_level is not None and c._ckpt_level.useDisk


def test_checkpoint_gate_escalates_on_pair_estimate(spark, fixture):
    """r10 (advisor): the checkpoint storage gate is seeded with census
    rows but must escalate to DISK_ONLY when a pass's K8 pair estimate
    bounds a links frame past half-heap — one way only, and never for
    explicit levels or auto_pin=False."""
    from pyspark import StorageLevel

    census, geobase, name_dob, fake_names, dod = fixture
    prepped = preprocess_census(census, fake_names, gq_threshold=99)
    refs = {
        "geobase_reference_file": preprocess_reference_file(geobase),
        "name_dob_reference_file": preprocess_reference_file(
            name_dob, has_address=False
        ),
    }
    c = PersonLinkageCascade(spark, prepped, refs, make_model())
    assert c._resolve_ckpt_level() is None  # tiny corpus: on-heap default
    c._note_frame_rows(10)  # below the census proxy: no-op
    assert c._ckpt_level is None
    past_gate = c._heap_bytes // 700 + 1  # rows*350 just over heap/2
    c._note_frame_rows(past_gate)
    assert c._ckpt_level is not None
    assert c._ckpt_level.useDisk and not c._ckpt_level.useMemory
    c._note_frame_rows(10)  # escalation is one-way
    assert c._ckpt_level.useDisk

    explicit = PersonLinkageCascade(
        spark, prepped, refs, make_model(),
        checkpoint_storage_level=StorageLevel.MEMORY_AND_DISK,
    )
    explicit._note_frame_rows(10**12)
    assert explicit._resolve_ckpt_level() == StorageLevel.MEMORY_AND_DISK
    manual = PersonLinkageCascade(
        spark, prepped, refs, make_model(), auto_pin=False
    )
    manual._note_frame_rows(10**12)
    assert manual._resolve_ckpt_level() is None


def test_checkpoint_disk_only_matches_local(spark, fixture, cascade_result):
    """checkpoint_storage_level=DISK_ONLY (the mega-rung regime: stream
    checkpoint blocks to local disk instead of unrolling deserialized
    rows on-heap — the 1024x ladder OOM fix) must confirm exactly the
    same PIKs as the default on-heap 'local' mode, and _truncate must
    actually apply the level."""
    from pyspark import StorageLevel

    census, geobase, name_dob, fake_names, dod = fixture
    prepped_census = preprocess_census(census, fake_names, gq_threshold=99)
    disk = PersonLinkageCascade(
        spark,
        prepped_census,
        {
            "geobase_reference_file": preprocess_reference_file(geobase),
            "name_dob_reference_file": preprocess_reference_file(
                name_dob, has_address=False
            ),
        },
        make_model(),
        dates_of_death=dod,
        checkpoint_storage_level=StorageLevel.DISK_ONLY,
    )
    # the truncated frame's blocks live at disk level, not on-heap
    # (df.rdd.getStorageLevel() reflects the wrapping python RDD, not the
    # checkpointed blocks — read the block manager's storage info instead)
    before = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    kept = disk._truncate(spark.range(10_000).selectExpr("id"))
    new = [
        i
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.id() not in before
    ]
    assert any(
        i.storageLevel().useDisk()
        and not i.storageLevel().useMemory()
        and i.diskSize() > 0
        and i.memSize() == 0
        for i in new
    ), [i.storageLevel().toString() for i in new]
    assert kept.count() == 10_000
    got = {
        (r["record_id_raw_input_file"], r["pik"])
        for r in disk.run(TWO_MODULES).collect()
    }
    _, confirmed_rows = cascade_result
    want = {(r["record_id_raw_input_file"], r["pik"]) for r in confirmed_rows}
    assert got == want


def test_auto_pin_resolution(spark):
    """r8 auto-derived pair-explosion pin + r9 auto salt: a pass whose
    pair output explodes relative to its input gets a derived
    num_partitions even though its author set none (the r7 manual-knob
    regime: forgetting it silently serialized 176M pairs into one
    AQE-coalesced reduce task), and a pass with ONE monster key gets a
    derived salt_partitions (the pin spreads distinct keys; hash
    partitioning still sends a single hot key's every pair to one task);
    a normal pass resolves to (None, None) (exact prior plan); explicit
    values always win; auto_pin=False restores the manual contract.
    1024x1024 = 1,048,576 pairs from 2,048 rows sits just over the r9
    absolute-output floor (4 x 64MB of pair bytes) so the pin still
    fires, and over the salt gate (2 tasks' worth of pairs).

    r11: the derivations size from MEASURED string widths (the estimate
    job's payload sums), not the 16-byte assumption — so the fixture
    carries realistic full-width values (15/12-char names, a 60-char
    geokey): measured left payload 99 B + right 36 B + 144 B fixed
    slots = 279 B/row. With the old short strings ("A" names) the
    measured payload was ~21 B -> 165 B/row and the SAME pass correctly
    fell below the output floor — the accuracy the r10 verdict asked
    for cuts both ways."""
    # one hot block: 1024 x 1024 pairs from 2,048 input rows
    geokey = "B1" + "X" * 58
    hot = [
        ("Z12", geokey, f"c{i}", "A" * 15, "A" * 12, "M", 1, 1, 1980)
        for i in range(1024)
    ]
    census = spark.createDataFrame(
        hot,
        "zip3 string, geokey_for_blocking string, record_id string, "
        "first_name_15 string, last_name_12 string, middle_initial string, "
        "day_of_birth int, month_of_birth int, year_of_birth int",
    ).withColumn("record_id_raw_input_file", F.col("record_id"))
    ref = spark.createDataFrame(
        [
            ("Z12", geokey, f"r{i}", "A" * 15, "A" * 12, "M", 1, 1, 1980, f"P{i}")
            for i in range(1024)
        ],
        "zip3 string, geokey_for_blocking string, record_id string, "
        "first_name_15 string, last_name_12 string, middle_initial string, "
        "day_of_birth int, month_of_birth int, year_of_birth int, pik string",
    )
    # spread corpus: unique blocks, pairs == rows (below the gate)
    spread_census = census.withColumn("geokey_for_blocking", F.col("record_id"))
    spread_ref = ref.withColumn(
        "geokey_for_blocking", F.regexp_replace("record_id", "r", "c")
    )
    matching = ["first_name_15", "last_name_12", "middle_initial",
                "day_of_birth", "month_of_birth", "year_of_birth"]

    def mk(census_df, ref_df, **cascade_kw):
        c = PersonLinkageCascade(
            spark, census_df, {"ref": ref_df}, make_model(), **cascade_kw
        )
        c.start_module(
            ModuleConfig(
                name="m", reference_file_name="ref", cut_columns=["zip3"],
                matching_columns=matching,
                passes=[],
            )
        )
        return c

    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hot_pass = PassConfig("p", ["geokey_for_blocking"], 0.9)
    # exploding pass: derived pin (1M pairs >> 8x2k rows; byte sizing is
    # below shuffle_partitions so the clamp floor applies) AND derived
    # salt (the single hot key carries all 1M pairs > the 2-task gate).
    # r11: pair_row_bytes = 144 fixed (8 + 17 fields x 8) + MEASURED
    # string payloads (left 101,204/1,024 -> 99; right 36,692/1,024 ->
    # 36) = 279 B/row, so one task's worth is 64MB/279 = 240,533 pairs
    # and the hot key needs ceil(1,048,576 / 240,533) = 5 lanes
    plan = mk(census, ref).resolve_pass_plan(hot_pass)
    assert plan.num_partitions == shuffle_parts
    assert plan.salt_partitions == 5
    assert plan.stats is not None and plan.stats.max_key_pairs == 1024 * 1024
    # spread pass: below both gates -> exact prior plan
    spread = mk(spread_census, spread_ref).resolve_pass_plan(hot_pass)
    assert spread.num_partitions is None and spread.salt_partitions is None
    # explicit values win over derivation (salt=1 explicitly DISABLES)
    explicit = PassConfig(
        "p", ["geokey_for_blocking"], 0.9, num_partitions=7, salt_partitions=1
    )
    explicit_plan = mk(census, ref).resolve_pass_plan(explicit)
    assert explicit_plan.num_partitions == 7
    assert explicit_plan.salt_partitions == 1
    assert mk(census, ref).resolve_pass_plan(explicit).num_partitions == 7
    # auto_pin=False: manual contract (None stays None, no estimate job)
    off = mk(census, ref, auto_pin=False).resolve_pass_plan(hot_pass)
    assert off.num_partitions is None and off.salt_partitions is None
    assert off.stats is None
    # the derived salt reaches the physical pass: the left side's
    # pmod(hash(...), n) salt lane assignment is in the optimized plan
    # (the right side's sequence-explode constant-folds to an opaque
    # UnsafeArrayData, so the deterministic pin is the hash side)
    plan_str = (
        mk(census, ref)
        .build_pass_links(
            hot_pass,
            num_partitions=plan.num_partitions,
            salt_partitions=plan.salt_partitions,
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert f", {plan.salt_partitions}) AS __salt" in plan_str


def test_unknown_checkpoint_mode_rejected(spark, fixture):
    census, geobase, *_ = fixture
    with pytest.raises(ValueError, match="checkpoint"):
        PersonLinkageCascade(
            spark, census, {"geobase_reference_file": geobase}, make_model(),
            checkpoint="lcoal",
        )


def _run_default_cascade(spark, fixture, auto_pin, on_pass=None):
    """run_full_pvs_cascade (default 4-module / 15-pass config) on the
    hand-built fixture, its cascade built with ``auto_pin`` (False: every
    pass a group of one, sequential elimination), counting the
    block-statistics queries the cascade runs; ``on_pass(cascade,
    pass_cfg)`` is called before each pass. Returns the confirmed links,
    the number of queries and the cascade."""
    import functools

    from person_linkage_case_study_spark.plans import cascade as cascade_mod
    from person_linkage_case_study_spark.plans import pipeline

    census, geobase, name_dob, fake_names, dod = fixture
    calls = []
    real_stats = cascade_mod.block_statistics
    real_pass = PersonLinkageCascade.run_matching_pass

    def stats(*a, **k):
        calls.append(1)
        return real_stats(*a, **k)

    def run_pass(self, pass_cfg):
        if on_pass is not None:
            on_pass(self, pass_cfg)
        return real_pass(self, pass_cfg)

    mp = pytest.MonkeyPatch()
    mp.setattr(cascade_mod, "block_statistics", stats)
    mp.setattr(PersonLinkageCascade, "run_matching_pass", run_pass)
    mp.setattr(
        pipeline, "PersonLinkageCascade",
        functools.partial(PersonLinkageCascade, auto_pin=auto_pin),
    )
    try:
        confirmed, _, cascade = pipeline.run_full_pvs_cascade(
            spark,
            preprocess_census(census, fake_names, gq_threshold=99),
            preprocess_reference_file(geobase),
            preprocess_reference_file(name_dob, has_address=False),
            make_model(),
            dates_of_death=dod,
            census_raw=census,
        )
        links = {
            (r["record_id_raw_input_file"], r["pik"], r["pass_name"])
            for r in confirmed.collect()
        }
    finally:
        mp.undo()
    return links, len(calls), cascade


def test_one_stats_query_per_group_start(spark, fixture):
    """The default cascade on a small world runs one block-statistics
    query per group start (each module is one group), not one per pass.
    Each pass's statistics equal estimate_pair_stats over the pass's own
    sides at the census it reads, so its plan is the one they derive (no
    knob), and the links match sequential elimination's (auto_pin=False:
    every pass a group of one, which reads no statistics)."""
    from person_linkage_case_study_spark.operators.blocking import (
        estimate_pair_stats,
    )

    plans = []

    def compare(cascade, pass_cfg):
        plan = cascade.resolve_pass_plan(pass_cfg)
        own = estimate_pair_stats(
            *cascade._pass_sides(pass_cfg, cascade._census_flushed)
        )
        plans.append((pass_cfg.name, plan, own))

    links_grouped, n_grouped, _ = _run_default_cascade(spark, fixture, True, compare)
    assert n_grouped == 4
    assert len(plans) == 15
    for name, plan, own in plans:
        assert plan.stats == own, name
        assert (plan.num_partitions, plan.salt_partitions) == (None, None), name
    links_sequential, n_sequential, _ = _run_default_cascade(spark, fixture, False)
    assert n_sequential == 0
    assert links_grouped == links_sequential and links_sequential


def test_bound_gate_keeps_hot_key_derivation(spark, monkeypatch):
    """Sizing passes from exact statistics keeps the hot-key derivation,
    and a pass whose statistics derive a knob runs as a group of one with
    those knobs: the hot-key pass of test_auto_pin_resolution, in the
    module's config, reads one statistics query,
    blocks with pin = shuffle.partitions and salt = 5 and leaves no group
    pending. The spread pass (one reference row per key) derives neither
    and starts a group."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    geokey = "B1" + "X" * 58
    cols = (
        "zip3 string, geokey_for_blocking string, record_id string, "
        "first_name_15 string, last_name_12 string, middle_initial string, "
        "day_of_birth int, month_of_birth int, year_of_birth int"
    )
    census = spark.createDataFrame(
        [("Z12", geokey, f"c{i}", "A" * 15, "A" * 12, "M", 1, 1, 1980)
         for i in range(1024)],
        cols,
    ).withColumn("record_id_raw_input_file", F.col("record_id"))
    ref = spark.createDataFrame(
        [("Z12", geokey, f"r{i}", "A" * 15, "A" * 12, "M", 1, 1, 1980, f"P{i}")
         for i in range(1024)],
        cols + ", pik string",
    )
    spread_census = census.withColumn("geokey_for_blocking", F.col("record_id"))
    spread_ref = ref.withColumn(
        "geokey_for_blocking", F.regexp_replace("record_id", "r", "c")
    )
    hot_pass = PassConfig("p", ["geokey_for_blocking"], 0.9)
    queries, blocked = [], []
    real_stats = cascade_mod.block_statistics
    real_blocked = cascade_mod.blocked_pairs
    monkeypatch.setattr(
        cascade_mod, "block_statistics",
        lambda *a, **k: queries.append(1) or real_stats(*a, **k),
    )
    monkeypatch.setattr(
        cascade_mod, "blocked_pairs",
        lambda *a, **k: blocked.append(
            (k.get("num_partitions"), k.get("salt_partitions"))
        ) or real_blocked(*a, **k),
    )

    def run(census_df, ref_df):
        # checkpoints off: the pass's plan is built, not run
        c = PersonLinkageCascade(
            spark, census_df, {"ref": ref_df}, make_model(), checkpoint="off",
        )
        c.start_module(
            ModuleConfig(
                name="m", reference_file_name="ref", cut_columns=["zip3"],
                matching_columns=["first_name_15", "last_name_12",
                                  "middle_initial", "day_of_birth",
                                  "month_of_birth", "year_of_birth"],
                passes=[hot_pass],
            )
        )
        c.run_matching_pass(hot_pass)
        return c

    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hot = run(census, ref)
    assert len(queries) == 1
    assert hot._group is None
    assert blocked == [(shuffle_parts, 5)]
    spread = run(spread_census, spread_ref)
    assert len(queries) == 2
    assert spread._group is not None and blocked[1:] == [(None, None)]


# -- pass groups --------------------------------------------------------------

GEO_MATCHING = [
    "first_name_15", "last_name_12", "middle_initial",
    "day_of_birth", "month_of_birth", "year_of_birth", "geokey",
]
# three passes of the module's config with different thresholds, one of
# them a name switch; a pass outside the config; one more config pass
GEOKEY_STRICT = PassConfig("geokey", ["geokey_for_blocking"], 0.99995)
NAME_1_SWITCHED = PassConfig(
    "name_1 switched", ["first_name_1", "last_name_1"], 0.0,
    switch_names=True,
)
BIRTH_YEAR = PassConfig("birth year", ["year_of_birth"], 0.5)
# an explicit knob (salt 1: none) keeps it a group of one
OUTSIDE = PassConfig(
    "name_2 outside", ["first_name_2", "last_name_2"], 0.99, salt_partitions=1
)
GEOKEY_LOOSE = PassConfig("geokey loose", ["geokey_for_blocking"], 0.0)
GROUP_MODULE = ModuleConfig(
    name="geosearch",
    reference_file_name="geobase_reference_file",
    cut_columns=["zip3"],
    matching_columns=GEO_MATCHING,
    passes=[GEOKEY_STRICT, NAME_1_SWITCHED, BIRTH_YEAR, GEOKEY_LOOSE],
)
GROUP_RUN_ORDER = [GEOKEY_STRICT, NAME_1_SWITCHED, BIRTH_YEAR, OUTSIDE, GEOKEY_LOOSE]


@pytest.fixture(scope="module")
def group_inputs(spark, fixture):
    """The hand-built fixture plus c9 (c5 with first and last name
    transposed: only the name-switch pass links it) and c10 (P6's address
    and name, another birth date: only the loose geokey pass links it)."""
    census, geobase, name_dob, fake_names, dod = fixture
    extra = spark.createDataFrame(
        [
            ("c9", "Green", None, "Dave", "11/30/1990", "77", "Pine Street",
             None, "Boston", "MA", "02135", "Household"),
            ("c10", "Xavier", "Q", "Stone", "01/01/1950", "8", "Hill Street",
             None, "Boston", "MA", "02136", "Household"),
        ],
        census.schema,
    )
    return (
        preprocess_census(census.unionByName(extra), fake_names, gq_threshold=99),
        preprocess_reference_file(geobase),
    )


def _run_group_module(spark, group_inputs, auto_pin, on_pass=None):
    """Start GROUP_MODULE and run GROUP_RUN_ORDER (``auto_pin=False``:
    every pass a group of one, sequential elimination); ``on_pass(cascade,
    pass_cfg)`` is called after each pass."""
    census, geobase = group_inputs
    cascade = PersonLinkageCascade(
        spark, census, {"geobase_reference_file": geobase}, make_model(),
        auto_pin=auto_pin,
    )
    cascade.start_module(GROUP_MODULE)
    for p in GROUP_RUN_ORDER:
        cascade.run_matching_pass(p)
        if on_pass is not None:
            on_pass(cascade, p)
    return cascade


def _link_rows(df):
    return {
        (r["record_id_census_2030"], r["record_id_reference_file"],
         r["match_weight"], r["match_probability"], r["pass_name"])
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def group_run(spark, group_inputs):
    """GROUP_MODULE as it runs by default, with the Spark jobs run so far, the
    jobs of each statistics query so far, the links frame's schema and its
    optimized plan after every pass."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    sc = spark.sparkContext
    group_id = "test-pass-group"
    after = []
    query_jobs = []
    real_stats = cascade_mod.block_statistics

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(group_id))

    def stats(*a, **k):
        before = jobs()
        out = real_stats(*a, **k)
        query_jobs.append(jobs() - before)
        return out

    def snapshot(cascade, pass_cfg):
        links = cascade._provisional_links
        after.append({
            "jobs": jobs(),
            "queries": list(query_jobs),
            "schema": [(f.name, f.dataType.typeName()) for f in links.schema.fields],
            "plan": links._jdf.queryExecution().optimizedPlan().treeString(),
            "group": getattr(cascade, "_group", None) is not None,
        })

    mp = pytest.MonkeyPatch()
    mp.setattr(cascade_mod, "block_statistics", stats)
    sc.setJobGroup(group_id, "pass group")
    try:
        cascade = _run_group_module(spark, group_inputs, True, snapshot)
    finally:
        mp.undo()
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return _link_rows(cascade._provisional_links), after


def test_pass_group_links_equal_sequential(spark, group_inputs, group_run):
    """The passes run as groups link exactly what sequential elimination
    (auto_pin=False: every pass a group of one) links: a record linked by two
    passes keeps the earlier pass's links, each pass applies its own
    threshold, the name-switch pass links the transposed record, and a
    pass outside the config flushes the group before the next one."""
    grouped, _ = group_run
    sequential = _link_rows(
        _run_group_module(spark, group_inputs, False)._provisional_links
    )
    assert grouped == sequential

    passes = {}
    for rid, _, _, _, pass_name in grouped:
        passes.setdefault(rid.removeprefix("census_2030_preprocessed_"), set()).add(
            pass_name
        )
    assert passes == {
        "c1_0": {"geokey"}, "c2_1": {"geokey"}, "c4_0": {"geokey"},
        "c5_0": {"geokey"},
        # 0.9997: under the geokey pass's threshold, over birth year's
        "c2_0": {"birth year"}, "c7_0": {"birth year"},
        "c9_0": {"name_1 switched"},
        "c10_0": {"geokey loose"},
    }
    # c1 also links in the birth-year pass when run on its own
    census, geobase = group_inputs
    alone = PersonLinkageCascade(
        spark, census, {"geobase_reference_file": geobase}, make_model()
    )
    alone.start_module(GROUP_MODULE)
    assert "census_2030_preprocessed_c1_0" in {
        r["record_id_census_2030"] for r in alone.build_pass_links(BIRTH_YEAR).collect()
    }


def test_pass_group_runs_one_materialisation(group_run):
    """The module's first pass runs the statistics query (for itself and
    the later passes that may group); the next two passes join its group
    and start no Spark job; the pass outside the config (an explicit
    salt) flushes the group and runs as a group of one, with a query of
    its own at the census the flush left; the next pass starts a new
    group at a new census state, so it runs one statistics query and no
    other job."""
    _, after = group_run
    jobs = [a["jobs"] for a in after]
    queries = [a["queries"] for a in after]
    assert [len(q) for q in queries] == [1, 1, 1, 2, 3]
    assert jobs[1] == jobs[2] == jobs[0]
    assert jobs[3] > jobs[2]
    assert jobs[4] - jobs[3] == queries[4][-1] > 0
    assert [a["group"] for a in after] == [True, True, True, False, True]


def test_pass_group_schema_is_links_template(group_run):
    _, after = group_run
    for a in after:
        assert a["schema"] == list(LINKS_FRAME_TEMPLATE)


def test_pass_group_plan_shape(group_run):
    """The three-pass group's optimized plan: one Window, above the Union
    of the three branches, and no probability Filter below the Union
    (pushed into every branch it made constraint propagation blow up);
    one CollectMetrics node observes the group's statistics."""
    _, after = group_run
    assert pass_group_plan_problems(after[2]["plan"], branches=3) == []
    assert after[2]["plan"].count("CollectMetrics ") == 1


def _logical_rdd_columns(tree: str) -> list[list[str]]:
    """The column names of every LogicalRDD in a plan's ``treeString``."""
    out = []
    for line in tree.splitlines():
        text = line.lstrip(" :+-")
        if text.startswith("LogicalRDD ["):
            cols = text[len("LogicalRDD ["):text.index("]")].split(", ")
            out.append([re.sub(r"#\d+L?$", "", c) for c in cols])
    return out


def test_empty_seeds_prune_from_plans(spark, group_inputs, group_run):
    """The module's provisional-links seed and the confirmed-PIK seed
    optimize to empty LocalRelations, so neither a pass group's plan nor
    the confirm step's keeps a dead Union branch: no LogicalRDD over
    either seed's schema (checkpoints are off for the confirm plan, so
    its only LogicalRDDs are the fixture's input frames)."""
    links = [n for n, _ in LINKS_FRAME_TEMPLATE]
    confirmed = [n for n, _ in CONFIRMED_FRAME_TEMPLATE]
    _, after = group_run
    for a in after[:3]:  # the module's first group, built on the seed
        assert links not in _logical_rdd_columns(a["plan"])
    census, geobase = group_inputs
    cascade = PersonLinkageCascade(
        spark, census, {"geobase_reference_file": geobase}, make_model(),
        checkpoint="off",
    )
    cascade.start_module(GROUP_MODULE)
    for p in GROUP_MODULE.passes:
        cascade.run_matching_pass(p)
    cascade.confirm_piks()
    rdds = _logical_rdd_columns(
        cascade.confirmed_piks._jdf.queryExecution().optimizedPlan().treeString()
    )
    cascade.release()
    assert rdds
    assert links not in rdds
    assert confirmed not in rdds


def test_pass_group_cap_starts_new_groups(spark, group_inputs, group_run,
                                          monkeypatch):
    """A pass that would take its group past PASS_GROUP_MAX_PAIRS starts a
    new group; a group holding a single pass keeps the
    pairs over its threshold without a window, and its threshold Filter
    stays out of the block join's condition (pushed there, the whole
    inlined score ran in the join); the links do not change."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    monkeypatch.setattr(cascade_mod, "PASS_GROUP_MAX_PAIRS", 1)
    plans = []

    def snapshot(cascade, pass_cfg):
        if cascade._group is not None:
            assert len(cascade._group.branches) == 1, pass_cfg.name
            plans.append(
                cascade._provisional_links._jdf.queryExecution()
                .optimizedPlan().treeString()
            )

    cascade = _run_group_module(spark, group_inputs, True, snapshot)
    assert len(plans) == 4
    assert not [p for p in plans if "Window " in p]
    joins = [line for p in plans for line in p.splitlines() if "Join " in line]
    assert len(joins) == 4
    assert not [line for line in joins if "POWER(" in line or "jaro_winkler" in line]
    grouped, _ = group_run
    assert _link_rows(cascade._provisional_links) == grouped


def test_pass_group_plans_once_when_read(spark, group_inputs, group_run,
                                         monkeypatch):
    """Without reads between passes, a group is planned once: GROUP_RUN_ORDER
    makes three groups (three knob-free passes, the pass outside the config
    as a group of one, the loose geokey pass), so ``score_pairs`` runs
    three times, not once per pass, and the links are group_run's."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    calls = []
    real_score = cascade_mod.score_pairs
    monkeypatch.setattr(
        cascade_mod, "score_pairs",
        lambda *a, **k: calls.append(1) or real_score(*a, **k),
    )
    cascade = _run_group_module(spark, group_inputs, True)
    links = _link_rows(cascade._provisional_links)
    assert len(calls) == 3
    grouped, _ = group_run
    assert links == grouped


def test_stats_query_covers_the_passes_that_may_group(spark, group_inputs,
                                                      monkeypatch):
    """On a miss, the statistics query covers the asking pass and the
    module's later passes that may join a group (OUTSIDE's explicit knob
    keeps it out, so it queries on its own). A pass that cannot group, as
    every pass with auto_pin=False, queries only itself: the census
    changes right after it."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    census, geobase = group_inputs
    covered = []
    real_stats = cascade_mod.block_statistics
    monkeypatch.setattr(
        cascade_mod, "block_statistics",
        lambda left, right, passes: covered.append(len(passes))
        or real_stats(left, right, passes),
    )
    module = dataclasses.replace(
        GROUP_MODULE, passes=[GEOKEY_STRICT, OUTSIDE, NAME_1_SWITCHED, BIRTH_YEAR]
    )
    for auto_pin in (True, False):
        cascade = PersonLinkageCascade(
            spark, census, {"geobase_reference_file": geobase}, make_model(),
            auto_pin=auto_pin,
        )
        cascade.start_module(module)
        for p in module.passes:
            cascade._pass_stats(p)
        cascade.release()
    assert covered == [3, 1, 1, 1, 1, 1]


def test_pass_stats_build_no_frame(spark, group_inputs, monkeypatch):
    """The passes' statistics read the census and the reference with
    their sides' columns worked out from the two schemas, read once:
    computing them (and the plans they derive) builds no pass side and no
    blocked join, and the schemas worked out (the name switch a rename)
    are the ones the pass's frames have."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    census, geobase = group_inputs
    cascade = PersonLinkageCascade(
        spark, census, {"geobase_reference_file": geobase}, make_model(),
    )
    cascade.start_module(GROUP_MODULE)
    sides = []
    for p in GROUP_MODULE.passes:
        census_side, ref_side, keys = cascade._pass_sides(p)
        sides.append((census_side.schema, ref_side.schema, keys))
    built = []
    real_sides = PersonLinkageCascade._pass_sides
    real_blocked = cascade_mod.blocked_pairs
    monkeypatch.setattr(
        PersonLinkageCascade, "_pass_sides",
        lambda *a, **k: built.append("sides") or real_sides(*a, **k),
    )
    monkeypatch.setattr(
        cascade_mod, "blocked_pairs",
        lambda *a, **k: built.append("pairs") or real_blocked(*a, **k),
    )
    plans = [cascade.resolve_pass_plan(p) for p in GROUP_RUN_ORDER]
    assert all(plan.stats is not None for plan in plans)
    assert built == []
    assert [cascade._pass_schemas(p) for p in GROUP_MODULE.passes] == sides


def _rename_chain(df):
    """The name switch as it was: three renames per first_*/last_* pair."""
    for c in list(df.columns):
        other = "last_" + c.removeprefix("first_")
        if c.startswith("first_") and other in df.columns:
            df = (
                df.withColumnRenamed(c, "__tmp__")
                .withColumnRenamed(other, c)
                .withColumnRenamed("__tmp__", other)
            )
    return df


def _frame_facts(df):
    return (
        [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        sorted(map(tuple, df.collect()), key=repr),
    )


def test_name_switch_is_one_projection(spark, group_inputs):
    """The name switch gives the rename chain's names, order, types and
    rows in one projection, and its schema rename agrees with it."""
    from person_linkage_case_study_spark.plans.cascade import _switch_schema

    census, _ = group_inputs
    switched = switch_first_and_last_names(census)
    assert "first_name_15" in census.columns
    assert _frame_facts(switched) == _frame_facts(_rename_chain(census))
    assert _switch_schema(census.schema) == switched.schema


def test_reference_prefix_strip_is_one_projection(fixture):
    """Stripping ``mailing_address_`` in one projection preprocesses the
    reference file exactly as the per-column rename chain did."""
    _, geobase, _, _, _ = fixture
    renamed = geobase
    for c in geobase.columns:
        if c.startswith("mailing_address_"):
            renamed = renamed.withColumnRenamed(c, c.removeprefix("mailing_address_"))
    assert renamed.columns != geobase.columns
    assert _frame_facts(preprocess_reference_file(geobase)) == _frame_facts(
        preprocess_reference_file(renamed)
    )


def test_large_census_forms_no_group(spark, group_inputs, group_run, monkeypatch):
    """A census whose passes explode forms no group: with every pass's
    statistics those of the same inputs with each census and reference
    record repeated 1,000 times (pairs and hottest key x 10^6, rows and
    string sums x 10^3), every pass derives a pin, runs as a group of one
    with it and reads its own statistics query, and the links equal the
    grouped run's."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    reps = 1_000
    queries, pins = [], []
    real_stats = cascade_mod.block_statistics
    real_blocked = cascade_mod.blocked_pairs

    def repeated(left, right, passes):
        queries.append(len(passes))
        return [
            s._replace(
                pairs=s.pairs * reps * reps,
                n_left=s.n_left * reps,
                n_right=s.n_right * reps,
                max_key_pairs=s.max_key_pairs * reps * reps,
                str_bytes_l=s.str_bytes_l * reps,
                str_bytes_r=s.str_bytes_r * reps,
            )
            for s in real_stats(left, right, passes)
        ]

    monkeypatch.setattr(cascade_mod, "block_statistics", repeated)
    monkeypatch.setattr(
        cascade_mod, "blocked_pairs",
        lambda *a, **k: pins.append(k.get("num_partitions"))
        or real_blocked(*a, **k),
    )

    def no_group(cascade, pass_cfg):
        assert cascade._group is None, pass_cfg.name

    cascade = _run_group_module(spark, group_inputs, True, on_pass=no_group)
    assert len(queries) == len(GROUP_RUN_ORDER)
    assert len(pins) == len(GROUP_RUN_ORDER) and None not in pins
    grouped, _ = group_run
    assert _link_rows(cascade._provisional_links) == grouped


def test_stats_cascade_leaves_no_persisted_rdds(spark, fixture):
    """A cascade, whose statistics are observed in its own actions (its
    confirm caches nothing for them), persists nothing past the run once
    its frames are dropped: getPersistentRDDs returns to the ids it had
    before."""
    import gc
    import time

    census, geobase, name_dob, fake_names, dod = fixture
    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    def collect_garbage():
        # py4j detaches dead proxies from a thread of its own (its queue,
        # polled here, drains in seconds after a cascade), then the JVM's
        # collector and Spark's context cleaner free what they held
        gc.collect()
        client = spark.sparkContext._gateway._gateway_client
        queue = getattr(client, "finalizer_deque", None)
        deadline = time.monotonic() + 30
        while queue and time.monotonic() < deadline:
            time.sleep(0.1)
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)

    collect_garbage()
    before = persisted()
    cascade = PersonLinkageCascade(
        spark,
        preprocess_census(census, fake_names, gq_threshold=99),
        {
            "geobase_reference_file": preprocess_reference_file(geobase),
            "name_dob_reference_file": preprocess_reference_file(
                name_dob, has_address=False
            ),
        },
        make_model(),
        dates_of_death=dod,
    )
    config = CascadeConfig(
        modules=[
            ModuleConfig(
                name="geosearch",
                reference_file_name="geobase_reference_file",
                cut_columns=["zip3"],
                matching_columns=GEO_MATCHING,
                passes=[PassConfig("geokey", ["geokey_for_blocking"], 0.9)],
            ),
        ]
    )
    assert cascade.run(config).count() > 0
    assert cascade.confirm_stats[0].n_deceased_dropped == 1
    del cascade
    left = persisted() - before
    for _ in range(5):
        if not left:
            break
        collect_garbage()
        left = persisted() - before
    assert not left


def _two_module_cascade(spark, fixture, **cascade_kw):
    """The TWO_MODULES cascade on the hand-built fixture, not yet run."""
    census, geobase, name_dob, fake_names, dod = fixture
    return PersonLinkageCascade(
        spark,
        preprocess_census(census, fake_names, gq_threshold=99),
        {
            "geobase_reference_file": preprocess_reference_file(geobase),
            "name_dob_reference_file": preprocess_reference_file(
                name_dob, has_address=False
            ),
        },
        make_model(),
        dates_of_death=dod,
        **cascade_kw,
    )


def test_observed_stats_equal_sequential(spark, fixture, group_inputs, monkeypatch):
    """Every PassStats and ConfirmStats a run observes equals sequential
    elimination's (auto_pin=False: every pass a group of one, its pairs
    and links counted on its own frames): on the default 15-pass config
    (each module one group), on GROUP_MODULE (a three-pass group, OUTSIDE
    as a group of one, then a single-pass group), with the single-pass
    groups a cap of one pair forces, and on TWO_MODULES, whose lone
    passes flush at confirm."""
    from person_linkage_case_study_spark.plans import cascade as cascade_mod

    _, _, grouped = _run_default_cascade(spark, fixture, True)
    _, _, sequential = _run_default_cascade(spark, fixture, False)
    assert len(grouped.stats) == 15 and len(grouped.confirm_stats) == 4
    assert grouped.stats == sequential.stats
    assert grouped.confirm_stats == sequential.confirm_stats

    def group_module(auto_pin):
        cascade = _run_group_module(spark, group_inputs, auto_pin)
        cascade.confirm_piks()
        return cascade.stats, cascade.confirm_stats

    want = group_module(False)
    # (pass, pairs, links, records left) of the 9 linkage records: c5 and
    # c9 link twice each (P5A, P5B)
    assert [
        (s.pass_name, s.n_pairs_estimated, s.n_links, s.n_still_eligible)
        for s in want[0]
    ] == [
        ("geokey", 10, 5, 5), ("name_1 switched", 2, 2, 4), ("birth year", 2, 2, 2),
        ("name_2 outside", 1, 0, 2), ("geokey loose", 1, 1, 1),
    ]
    assert [s.salt_partitions for s in want[0]] == [None, None, None, 1, None]
    assert group_module(True) == want
    monkeypatch.setattr(cascade_mod, "PASS_GROUP_MAX_PAIRS", 1)
    assert group_module(True) == want

    def two_modules(auto_pin):
        cascade = _two_module_cascade(spark, fixture, auto_pin=auto_pin)
        cascade.run(TWO_MODULES)
        return cascade.stats, cascade.confirm_stats

    assert two_modules(True) == two_modules(False)


@pytest.mark.parametrize("checkpoint", ["off", "persist"])
def test_lazy_checkpoint_stats_arrive_with_first_action(
    spark, group_inputs, checkpoint
):
    """In the lazy checkpoint modes the statistics arrive with the
    caller's first action on the cascade's output. Read before it, they
    raise rather than wait (an observation waits for its frame's first
    action, forever when none comes). After it, a two-module run's (a
    three-pass group, then a one-pass module whose census no later frame
    reads) equal the 'local' run's: every observed node has a name of its
    own, though each later plan holds the earlier plans' nodes."""
    census, geobase = group_inputs
    config = CascadeConfig(
        modules=[
            dataclasses.replace(
                GROUP_MODULE, passes=[GEOKEY_STRICT, NAME_1_SWITCHED, BIRTH_YEAR]
            ),
            dataclasses.replace(
                GROUP_MODULE, name="geokey loose", passes=[GEOKEY_LOOSE]
            ),
        ]
    )

    def run(mode):
        cascade = PersonLinkageCascade(
            spark, census, {"geobase_reference_file": geobase}, make_model(),
            checkpoint=mode,
        )
        return cascade, cascade.run(config)

    local, _ = run("local")
    lazy, confirmed = run(checkpoint)
    with pytest.raises(RuntimeError, match="none has run yet"):
        lazy.stats
    with pytest.raises(RuntimeError, match="none has run yet"):
        lazy.confirm_stats
    assert confirmed.count() > 0
    assert len(local.stats) == 4
    assert lazy.stats == local.stats
    assert lazy.confirm_stats == local.confirm_stats
