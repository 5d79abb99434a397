"""Bucketed geobase through the cascade (SCALING.md scale path).

``bucket_reference_file`` pays the geobase shuffle once at write; a
cascade pass blocking on the bucket columns must then show NO shuffle
exchange on the reference side of its block join — pinned here through
``PersonLinkageCascade.build_pass_links`` (the lazy pass pipeline), not a
standalone join, so the whole gamma/score stack sits on top of the
bucketed scan exactly as it would in production.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.plans.cascade import ModuleConfig, PassConfig, PersonLinkageCascade
from person_linkage_case_study_spark.plans.pipeline import bucket_reference_file
from person_linkage_case_study_spark.plans.preprocess import (
    preprocess_census,
    preprocess_reference_file,
)
from tests.test_cascade import make_model


@pytest.fixture(scope="module")
def prepped(spark):
    n = 400
    base = spark.range(n)
    census = base.select(
        F.concat(F.lit("c"), F.col("id")).alias("record_id"),
        F.lit("Alice").alias("first_name"),
        F.lit("M").alias("middle_initial"),
        F.concat(F.lit("Smith"), (F.col("id") % 97).cast("string")).alias("last_name"),
        F.lit("01/15/1980").alias("date_of_birth"),
        ((F.col("id") % 200) + 1).cast("string").alias("street_number"),
        F.lit("Main Street").alias("street_name"),
        F.lit(None).cast("string").alias("unit_number"),
        F.lit("Springfield").alias("city"),
        F.lit("MA").alias("state"),
        F.concat(F.lit("011"), F.lpad((F.col("id") % 80).cast("string"), 2, "0")).alias(
            "zipcode"
        ),
        F.lit("Household").alias("housing_type"),
    )
    geobase = base.select(
        F.concat(F.lit("g"), F.col("id")).alias("record_id"),
        F.concat(F.lit("P"), F.col("id")).alias("pik"),
        F.lpad(F.col("id").cast("string"), 9, "0").alias("ssn"),
        F.lit("Alice").alias("first_name"),
        F.lit("Marie").alias("middle_name"),
        F.concat(F.lit("Smith"), (F.col("id") % 97).cast("string")).alias("last_name"),
        F.lit("19800115").alias("date_of_birth"),
        ((F.col("id") % 200) + 1).cast("string").alias("mailing_address_street_number"),
        F.lit("Main St").alias("mailing_address_street_name"),
        F.lit(None).cast("string").alias("mailing_address_unit_number"),
        F.lit("Springfield").alias("mailing_address_city"),
        F.lit("MA").alias("mailing_address_state"),
        F.concat(F.lit("011"), F.lpad((F.col("id") % 80).cast("string"), 2, "0")).alias(
            "mailing_address_zipcode"
        ),
    )
    fake_names = spark.createDataFrame([("ANONYMOUS",)], ["fake_name"])
    return (
        preprocess_census(census, fake_names).localCheckpoint(),
        preprocess_reference_file(geobase).localCheckpoint(),
    )


def _geokey_module() -> tuple[ModuleConfig, PassConfig]:
    p = PassConfig("geokey", ["geokey_for_blocking"], 0.9)
    mod = ModuleConfig(
        name="geosearch",
        reference_file_name="geobase_reference_file",
        cut_columns=["zip3"],
        matching_columns=[
            "first_name_15", "last_name_12", "middle_initial",
            "day_of_birth", "month_of_birth", "year_of_birth", "geokey",
        ],
        passes=[p],
    )
    return mod, p


def _pass_plan(spark, census_pre, geobase_pre) -> tuple[str, int]:
    mod, p = _geokey_module()
    cascade = PersonLinkageCascade(
        spark,
        census_pre,
        {"geobase_reference_file": geobase_pre},
        make_model(),
    )
    cascade.start_module(mod)
    links = cascade.build_pass_links(p)
    plan = links._jdf.queryExecution().executedPlan().toString()
    return plan, links.count()


def test_bucketed_pass_skips_reference_exchange(spark, prepped, tmp_path_factory):
    census_pre, geobase_pre = prepped
    tbl = f"geobase_bk_{uuid.uuid4().hex[:8]}"
    bucketed = bucket_reference_file(
        spark,
        geobase_pre,
        tbl,
        ["zip3", "geokey_for_blocking"],
        num_buckets=8,
        path=str(tmp_path_factory.mktemp("bk") / "geobase"),
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain_plan, plain_rows = _pass_plan(spark, census_pre, geobase_pre)
        bk_plan, bk_rows = _pass_plan(spark, census_pre, bucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # same links either way — bucketing is a physical choice, not semantics
    assert bk_rows == plain_rows and bk_rows > 0

    # the bucketed scan feeds the block join pre-partitioned: exactly one
    # exchange disappears (the reference side's)
    assert "Bucketed: true" in bk_plan, bk_plan
    n_plain = plain_plan.count("Exchange hashpartitioning")
    n_bk = bk_plan.count("Exchange hashpartitioning")
    assert n_bk == n_plain - 1, f"plain={n_plain} bucketed={n_bk}\n{bk_plan}"

def _one_to_one_world(spark, n=400, n_ref=4000, garble_every=10):
    """Census/geobase with unique 1:1 name partners (geobase carries
    ``n_ref - n`` extra unmatched records, as a reference file would);
    every ``garble_every``-th census record has a garbled street number,
    so its geokey matches nothing in pass 1 and it survives to later
    passes."""
    base = spark.range(n)
    garbled = (F.col("id") % garble_every) == 0
    census = base.select(
        F.concat(F.lit("c"), F.col("id")).alias("record_id"),
        F.lit("Alice").alias("first_name"),
        F.lit("M").alias("middle_initial"),
        F.concat(F.lit("Smith"), F.col("id").cast("string")).alias("last_name"),
        F.lit("01/15/1980").alias("date_of_birth"),
        F.when(garbled, (F.col("id") + 5000)).otherwise(F.col("id") + 1)
        .cast("string").alias("street_number"),
        F.lit("Main Street").alias("street_name"),
        F.lit(None).cast("string").alias("unit_number"),
        F.lit("Springfield").alias("city"),
        F.lit("MA").alias("state"),
        F.concat(F.lit("011"), F.lpad((F.col("id") % 80).cast("string"), 2, "0")).alias(
            "zipcode"
        ),
        F.lit("Household").alias("housing_type"),
    )
    geobase = spark.range(n_ref).select(
        F.concat(F.lit("g"), F.col("id")).alias("record_id"),
        F.concat(F.lit("P"), F.col("id")).alias("pik"),
        F.lpad(F.col("id").cast("string"), 9, "0").alias("ssn"),
        F.lit("Alice").alias("first_name"),
        F.lit("Marie").alias("middle_name"),
        F.concat(F.lit("Smith"), F.col("id").cast("string")).alias("last_name"),
        F.lit("19800115").alias("date_of_birth"),
        (F.col("id") + 1).cast("string").alias("mailing_address_street_number"),
        F.lit("Main St").alias("mailing_address_street_name"),
        F.lit(None).cast("string").alias("mailing_address_unit_number"),
        F.lit("Springfield").alias("mailing_address_city"),
        F.lit("MA").alias("mailing_address_state"),
        F.concat(F.lit("011"), F.lpad((F.col("id") % 80).cast("string"), 2, "0")).alias(
            "mailing_address_zipcode"
        ),
    )
    fake_names = spark.createDataFrame([("ANONYMOUS",)], ["fake_name"])
    return (
        preprocess_census(census, fake_names).localCheckpoint(),
        preprocess_reference_file(geobase).localCheckpoint(),
    )


def test_late_cascade_pass_flips_to_broadcast(spark):
    """Geobase-at-scale join strategy (SCALING.md; reference skew context
    03_link_datasets.ipynb:1971-1975): early passes join two big sides
    (shuffle join), but as confirms shrink census_to_match the census side
    falls under the broadcast threshold and the SAME pass pipeline must
    flip to a BroadcastHashJoin — no code change, just Catalyst reading
    the checkpointed accumulator's stats. The threshold is calibrated
    from the actual plan statistics so the test pins the flip itself, not
    a magic byte count."""
    census_pre, geobase_pre = _one_to_one_world(spark)
    mod, p = _geokey_module()
    p2 = PassConfig("namekey", ["last_name_12"], 0.9)
    mod.passes = [p, p2]

    def size_of(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    # checkpoint='persist': the accumulator is cached between passes, so
    # once materialized the planner reads ACCURATE InMemoryRelation sizes
    # (localCheckpoint's LogicalRDD reports no usable size; a plain
    # anti-join estimate never shrinks below its left side)
    cascade = PersonLinkageCascade(
        spark,
        census_pre,
        {"geobase_reference_file": geobase_pre},
        make_model(),
        checkpoint="persist",
    )
    cascade.start_module(mod)
    cascade._census_to_match.count()  # materialize -> real stats
    # calibrate on the PROJECTED pass sides — Catalyst prices the join
    # inputs after column pruning, not the full frames
    c_side, r_side, _ = cascade._pass_sides(p2)
    full_census = size_of(c_side)
    geobase_sz = size_of(r_side)

    cascade.run_matching_pass(p)
    cascade.confirm_piks()
    cascade.start_module(mod)  # re-enter: census_to_match now shrunken
    assert cascade._census_to_match.count() <= 80  # also materializes
    c_side2, _, _ = cascade._pass_sides(p2)
    small_census = size_of(c_side2)
    # pass 1 confirmed the un-garbled 90% — the survivor set is small
    assert small_census < full_census // 2, (small_census, full_census)

    # a threshold strictly between the shrunken census and both full sides
    thr = (small_census + min(full_census, geobase_sz)) // 2
    assert small_census < thr < min(full_census, geobase_sz)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thr))
    try:
        plan2 = (
            cascade.build_pass_links(p2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        fresh = PersonLinkageCascade(
            spark,
            census_pre,
            {"geobase_reference_file": geobase_pre},
            make_model(),
            checkpoint="persist",
        )
        fresh.start_module(mod)
        fresh._census_to_match.count()  # materialize -> real stats
        plan1 = (
            fresh.build_pass_links(p)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    assert "BroadcastHashJoin" in plan2, plan2
    assert "BroadcastHashJoin" not in plan1, plan1
