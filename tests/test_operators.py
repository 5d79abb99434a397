"""Relational operator unit tests (SURVEY.md §2.3-2.7)."""

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.operators.blocking import (
    blocked_pairs,
    estimate_pair_stats,
)
from person_linkage_case_study_spark.operators.dedup import (
    keep_best,
    max_per_group_with_ties,
)
from person_linkage_case_study_spark.operators.joins import (
    anti_join,
    semi_join,
    validated_one_to_one_join,
)


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            ("a", "SMITH", 0.99, 1),
            ("a", "SMITH", 0.80, 2),
            ("a", "SMYTH", 0.99, 3),
            ("b", "JONES", 0.50, 4),
            (None, "NOKEY", 0.10, 5),
        ],
        ["key", "name", "prob", "rid"],
    )


def test_keep_best_deterministic(people):
    best = keep_best(people, ["key"], [F.desc("prob")], tiebreak="rid").collect()
    by_key = {r["key"]: r for r in best}
    # ties on prob=0.99 broken by lowest rid
    assert by_key["a"]["rid"] == 1
    assert by_key["b"]["rid"] == 4
    assert by_key[None]["rid"] == 5  # null key forms its own group


def test_max_per_group_with_ties(people):
    rows = max_per_group_with_ties(people, ["key"], "prob").collect()
    a_rows = [r for r in rows if r["key"] == "a"]
    assert sorted(r["rid"] for r in a_rows) == [1, 3]


def test_anti_semi_join(spark):
    left = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["k", "v"])
    right = spark.createDataFrame([(2,), (3,)], ["k"])
    assert {r["k"] for r in anti_join(left, right, "k").collect()} == {1}
    assert {r["k"] for r in semi_join(left, right, "k").collect()} == {2, 3}


def test_validated_one_to_one_join(spark):
    l = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "lv"])
    r = spark.createDataFrame([(1, "A"), (2, "B")], ["k", "rv"])
    assert validated_one_to_one_join(l, r, "k").count() == 2
    r_dup = spark.createDataFrame([(1, "A"), (1, "B")], ["k", "rv"])
    with pytest.raises(ValueError, match="1:1"):
        validated_one_to_one_join(l, r_dup, "k")


def test_blocked_pairs_null_keys_skip(spark):
    """SURVEY.md §7.3.3: records NULL in any blocking key skip the pass."""
    l = spark.createDataFrame([("z1", 1), (None, 2)], ["blk", "lid"])
    r = spark.createDataFrame([("z1", 10), (None, 20)], ["blk", "rid"])
    pairs = blocked_pairs(l, r, ["blk"]).collect()
    assert len(pairs) == 1
    assert pairs[0]["lid_l"] == 1 and pairs[0]["rid_r"] == 10


def test_blocked_pairs_salting_preserves_pairs(spark):
    l = spark.createDataFrame([("k", i) for i in range(20)], ["blk", "lid"])
    r = spark.createDataFrame([("k", i) for i in range(15)], ["blk", "rid"])
    plain = blocked_pairs(l, r, ["blk"])
    salted = blocked_pairs(l, r, ["blk"], salt_partitions=7)
    assert plain.count() == 20 * 15
    assert salted.count() == 20 * 15
    # same pair set, not just same count
    key = lambda rows: sorted((r["lid_l"], r["rid_r"]) for r in rows)
    assert key(plain.collect()) == key(salted.collect())


def test_estimate_pair_count(spark):
    l = spark.createDataFrame([("a",), ("a",), ("b",)], ["blk"])
    r = spark.createDataFrame([("a",), ("b",), ("b",), ("c",)], ["blk"])
    # a: 2*1, b: 1*2 => 4
    assert estimate_pair_stats(l, r, ["blk"]).pairs == 4


def test_block_statistics_match_blocked_pairs(spark):
    """One block_statistics query gives each pass the figures counted on
    its actual blocked_pairs join: pairs, the hottest key's pairs, each
    side's rows with no NULL key and those rows' string payloads (the
    left's every string column, the right's non-key ones). The passes
    include NULL keys, a name-switched pass (its left keys read the
    transposed columns), two passes on one key set with different
    columns, and the same passes with an empty left side."""
    from person_linkage_case_study_spark.operators.blocking import (
        BlockPass,
        PairStats,
        block_statistics,
    )
    from person_linkage_case_study_spark.plans.cascade import (
        switch_first_and_last_names,
    )

    left = spark.createDataFrame(
        [
            ("l1", "a", "x", "ANN", "LEE"),
            ("l2", "a", "y", "LEE", "ANN"),
            ("l3", "b", None, "BO", "KIM"),
            ("l4", None, "x", "ANN", "KIM"),
        ],
        "id string, k1 string, k2 string, first_name string, last_name string",
    )
    right = spark.createDataFrame(
        [
            ("r1", "a", "x", "ANN", "LEE", "1 Main Street"),
            ("r2", "a", "x", "LEE", "ANN", None),
            ("r3", "a", "y", "ANN", "LEE", "2 Hill Road"),
            ("r4", "b", "z", "KIM", "BO", "3 Elm"),
            ("r5", None, "x", "ANN", "KIM", "4 Oak"),
        ],
        "id string, k1 string, k2 string, first_name string, last_name string, "
        "addr string",
    )
    switch = {"first_name": "last_name", "last_name": "first_name"}

    def own(df):
        return {c: c for c in df.columns}

    def counted(l, r, keys):
        # the pass's own sides, counted on the join and row by row
        per_key = [
            row["count"]
            for row in blocked_pairs(l, r, list(keys)).groupBy(*keys).count().collect()
        ]
        joinable = " AND ".join(f"{k} IS NOT NULL" for k in keys)

        def payload(df, skip=()):
            cols = [
                f.name
                for f in df.schema.fields
                if f.dataType.typeName() == "string" and f.name not in skip
            ]
            rows = df.where(joinable).collect()
            return len(rows), sum(len(row[c] or "") for row in rows for c in cols)

        (nl, sl), (nr, sr) = payload(l), payload(r, keys)
        return PairStats(sum(per_key), nl, nr, max(per_key, default=0), sl, sr)

    def check(left):
        narrow_r = right.select("id", "k1")
        passes = [  # (keys, the pass's left side, its right side, BlockPass)
            (("k1",), left, right, BlockPass(("k1",), own(left), own(right))),
            (("k1", "k2"), left, right, BlockPass(("k1", "k2"), own(left), own(right))),
            (
                ("k1", "first_name"),
                switch_first_and_last_names(left),
                right,
                BlockPass(
                    ("k1", "first_name"),
                    {c: switch.get(c, c) for c in left.columns},
                    own(right),
                ),
            ),
            (("k1",), left, narrow_r, BlockPass(("k1",), own(left), own(narrow_r))),
        ]
        got = block_statistics(left, right, [p for *_, p in passes])
        assert got == [counted(l, r, keys) for keys, l, r, _ in passes]
        return got

    stats = check(left)
    # k1: a 2x3, b 1x1; the switched pass: (a, LEE) 1x1, (a, ANN) 1x2,
    # (b, KIM) 1x1; the narrow right side carries only the id's payload
    assert [s.pairs for s in stats] == [7, 3, 4, 7]
    assert [s.max_key_pairs for s in stats] == [6, 2, 2, 6]
    assert stats[0].str_bytes_r != stats[3].str_bytes_r
    empty = check(left.limit(0))
    assert [(s.pairs, s.n_left, s.str_bytes_l) for s in empty] == [(0, 0, 0)] * 4
    assert [s.n_right for s in empty] == [s.n_right for s in stats]


def test_blocked_pairs_pin_preserves_pairs(spark):
    """num_partitions (alone and composed with salting) changes only the
    shuffle partitioning, never the pair set."""
    l = spark.createDataFrame([("k", i) for i in range(20)], ["blk", "lid"])
    r = spark.createDataFrame([("k", i) for i in range(15)], ["blk", "rid"])
    key = lambda rows: sorted((r["lid_l"], r["rid_r"]) for r in rows)
    plain = key(blocked_pairs(l, r, ["blk"]).collect())
    assert key(blocked_pairs(l, r, ["blk"], num_partitions=5).collect()) == plain
    assert (
        key(
            blocked_pairs(
                l, r, ["blk"], salt_partitions=7, num_partitions=5
            ).collect()
        )
        == plain
    )


def test_blocked_pairs_pin_in_plan(spark):
    """The pin must materialize as USER-SPECIFIED hash partitioning on
    the join keys (RepartitionByExpression with an explicit partition
    count) — that is what makes it exempt from AQE's input-bytes
    coalescing; an ENSURE_REQUIREMENTS exchange would not be."""
    l = spark.createDataFrame([("k", 1)], ["blk", "lid"])
    r = spark.createDataFrame([("k", 2)], ["blk", "rid"])
    plan = (
        blocked_pairs(l, r, ["blk"], num_partitions=7)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("RepartitionByExpression [blk") == 2  # both sides
    assert ", 7" in plan


def test_estimate_pair_stats(spark):
    """(pairs, n_left, n_right) in one pass: the pair total matches the
    inner-join sum even though the plan is a full-outer join (keys on
    one side only contribute zero pairs but DO count toward the row
    totals), and NULL blocking keys count toward neither — they skip
    the pass by equi-join semantics."""
    from person_linkage_case_study_spark.operators.blocking import (
        estimate_pair_stats,
    )

    l = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], ["blk"])
    r = spark.createDataFrame([("a",), ("b",), ("b",), ("c",)], ["blk"])
    # r9: 4th field is the hottest key's pair product (a: 2x1, b: 1x2).
    # r11: fields 5/6 are the sides' pair-row string payload sums — left
    # counts the key (emitted once from the left, 3 non-NULL 1-char
    # values); right's ONLY string column is the key, so it sums nothing
    assert estimate_pair_stats(l, r, ["blk"]) == (4, 3, 4, 2, 3, 0)
    empty = spark.createDataFrame([], "blk string")
    assert estimate_pair_stats(empty, r, ["blk"]) == (0, 0, 4, 0, 0, 0)


def test_derive_pair_pin():
    """The auto pin (r8): None below the explosion gate — passes whose
    pair output is within a small factor of their input keep the exact
    unpinned plan AQE already handles; above it, one partition per 64MB
    of estimated pair bytes, clamped to [shuffle_partitions, cap]."""
    from person_linkage_case_study_spark.operators.blocking import (
        derive_pair_pin,
    )

    # below gate: pairs <= 8x input rows
    assert derive_pair_pin(1000, 100, 100, 32) is None
    assert derive_pair_pin(0, 0, 0, 32) is None
    # r9 absolute-output floor: over the ratio gate but the whole pair
    # output is ~2 MB — pinning at session parallelism would only
    # disable AQE coalescing on work that fits one task
    assert derive_pair_pin(9_000, 500, 500, 200) is None
    # the r7 measured regime: 176M pairs from 300k input rows
    pin = derive_pair_pin(176_000_000, 150_000, 150_000, 32)
    assert pin == -(-(176_000_000 * 256) // (64 << 20))  # ceil = 672
    # never below the session's configured parallelism...
    assert derive_pair_pin(10_000_000, 1000, 1000, 200) == 200
    # ...never above the cap
    assert derive_pair_pin(10**12, 10**6, 10**6, 32) == 4096


def test_derive_salt():
    """The r9 auto salt: None unless ONE key's pair product exceeds
    ~2 tasks' worth of pair output (the pin spreads distinct keys; only
    salt can split a single hot key), then enough lanes to bring the hot
    key back to ~one task each, clamped to [2, 32]."""
    from person_linkage_case_study_spark.operators.blocking import derive_salt

    target = (64 << 20) // 256  # 262,144 pairs per task
    # no hot key / below the 2x-task bound: the worst straggler is
    # already no worse than AQE's own skew-split advisory
    assert derive_salt(0) is None
    assert derive_salt(2 * target) is None
    # just past the gate: ceil back to one task's worth per lane
    assert derive_salt(2 * target + 1) == 3
    # the r7/r8 measured hot block (176M pairs on one key) hits the cap
    assert derive_salt(176_000_000) == 32
    # cap respected however monstrous the key
    assert derive_salt(10**12) == 32


def test_derivation_invariants_property():
    """Property pins for every sizing derivation (r10): clamps always
    hold, and each derivation is monotone in its driving signal — more
    pairs never derives a SMALLER pin, a hotter key never derives fewer
    salt lanes, wider pair rows never derive a smaller pin/salt, and a
    wider embedding never derives a LARGER bucket cap. Monotonicity is
    what makes 'zero-knob' safe to trust: scale can only push the knobs
    toward more mitigation, never silently less."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from person_linkage_case_study_spark.operators.blocking import (
        derive_pair_pin,
        derive_salt,
    )
    from person_linkage_case_study_spark.similarity.semdedup import (
        derive_max_bucket,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        p1=st.integers(0, 10**13),
        p2=st.integers(0, 10**13),
        rows=st.integers(0, 10**9),
        conf=st.integers(1, 4096),
        rb1=st.integers(64, 4096),
        rb2=st.integers(64, 4096),
        mk=st.integers(0, 10**13),
        d1=st.integers(1, 10**6),
        d2=st.integers(1, 10**6),
    )
    def check(p1, p2, rows, conf, rb1, rb2, mk, d1, d2):
        lo, hi = sorted((p1, p2))
        rb_lo, rb_hi = sorted((rb1, rb2))
        pin_lo = derive_pair_pin(lo, rows, rows, conf, pair_row_bytes=rb_lo)
        pin_hi = derive_pair_pin(hi, rows, rows, conf, pair_row_bytes=rb_lo)
        for pin in (pin_lo, pin_hi):
            assert pin is None or conf <= pin <= 4096
        if pin_lo is not None and pin_hi is not None:
            assert pin_lo <= pin_hi  # more pairs, never a smaller pin
        pin_wide = derive_pair_pin(hi, rows, rows, conf, pair_row_bytes=rb_hi)
        if pin_hi is not None and pin_wide is not None:
            assert pin_hi <= pin_wide  # wider rows, never a smaller pin

        s_lo = derive_salt(mk, pair_row_bytes=rb_lo)
        s_hi = derive_salt(mk, pair_row_bytes=rb_hi)
        for s in (s_lo, s_hi):
            assert s is None or 2 <= s <= 32
        if s_lo is not None and s_hi is not None:
            assert s_lo <= s_hi  # wider rows, never fewer lanes
        if mk and s_lo is not None:
            bigger = derive_salt(mk * 2, pair_row_bytes=rb_lo)
            assert bigger is not None and bigger >= s_lo

        c1 = derive_max_bucket(min(d1, d2))
        c2 = derive_max_bucket(max(d1, d2))
        assert 64 <= c2 <= c1 <= 1024  # wider embedding, never a larger cap

    check()


def test_record_id_minting(spark):
    from person_linkage_case_study_spark.sources.io import add_record_id

    df = spark.range(100).repartition(4)
    with_id = add_record_id(df, "testds")
    ids = [r["record_id"] for r in with_id.collect()]
    assert len(set(ids)) == 100
    assert all(i.startswith("testds_") for i in ids)


def test_lineage_merge(spark):
    from person_linkage_case_study_spark.sources.lineage import (
        merge_preserving_source_records,
        new_lineage,
    )

    t1 = spark.createDataFrame(
        [("s1", "r1", "Alice"), ("s2", "r2", "Bob")], ["ssn", "record_id", "name"]
    )
    t2 = spark.createDataFrame(
        [("s1", "r3", "90210"), ("s3", "r4", "02134")], ["ssn", "record_id", "zip"]
    )
    merged, lineage = merge_preserving_source_records(
        [(t1, new_lineage(t1)), (t2, new_lineage(t2))], key="ssn"
    )
    rows = {r["ssn"]: r for r in merged.collect()}
    assert rows["s1"]["name"] == "Alice" and rows["s1"]["zip"] == "90210"
    assert rows["s3"]["name"] is None and rows["s3"]["zip"] == "02134"
    lin = {(r["record_id"], r["source_record_id"]) for r in lineage.collect()}
    # s1's merged row (keeps r1) carries both r1 and r3 as sources
    assert ("r1", "r1") in lin and ("r1", "r3") in lin


def test_catalog_window_and_operator_map_drift():
    """Every registry entry sits inside the driver's 50-entry verification
    window, has an oracle, and appears in the catalog report's operator
    map (tools/catalog_report.py) — the r2 process defect, pinned."""
    import sys

    sys.path.insert(0, ".")
    from tools.catalog_report import build_report

    _, problems = build_report()
    assert problems == []
