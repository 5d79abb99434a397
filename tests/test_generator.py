"""S7 generator source: parity, determinism, noise-config surface, and
downstream schema compatibility."""

from __future__ import annotations

import duckdb
import pytest

from person_linkage_case_study_spark.sources.generator import (
    DATASETS,
    generate_dataset,
    generate_dataset_sql,
    generate_decennial_census,
    get_config,
    very_noisy_config,
)

N = 800


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def _duck_rows(sql):
    o = duckdb.connect().execute(sql)
    cols = [c[0] for c in o.description]
    return cols, sorted(tuple(str(x) for x in r) for r in o.fetchall())


@pytest.mark.parametrize("dataset", DATASETS)
def test_duckdb_parity(spark, dataset):
    """The Spark plan and the DuckDB replay of the same spec produce
    byte-identical tables under the reference's very-noisy config."""
    cfg = very_noisy_config()
    df = generate_dataset(spark, dataset, N, seed=5, config=cfg)
    cols, orows = _duck_rows(generate_dataset_sql(dataset, N, seed=5, config=cfg))
    assert df.columns == cols
    assert _rows(df) == orows


def test_partition_and_seed_determinism(spark):
    """Generation is a pure function of (dataset, n, seed, config) — the
    partition layout must not leak into values (the property pseudopeople's
    per-worker numpy RNG does not have)."""
    a = _rows(generate_dataset(spark, "decennial_census", N, seed=3, num_partitions=1))
    b = _rows(generate_dataset(spark, "decennial_census", N, seed=3, num_partitions=7))
    assert a == b
    c = _rows(generate_dataset(spark, "decennial_census", N, seed=4, num_partitions=7))
    assert a != c


def _clean_config():
    cfg = get_config()
    for dcfg in cfg.values():
        for rn in dcfg["row_noise"].values():
            rn["row_probability"] = 0.0
        for ccfg in dcfg["column_noise"].values():
            for leaf in ccfg.values():
                leaf["cell_probability"] = 0.0
    return cfg


def test_noise_config_surface(spark):
    """Zeroed config yields the clean truth (no omissions, no dups, no
    blanks); the very-noisy override corrupts strictly more first names
    than the defaults, and omit_row strictly reduces rows."""
    clean = generate_decennial_census(spark, N, seed=9, config=_clean_config()).cache()
    n_clean = clean.count()
    assert clean.filter("record_id LIKE '%_dup'").count() == 0
    assert clean.filter("first_name IS NULL").count() == 0

    def corrupted(cfg):
        noisy = generate_decennial_census(spark, N, seed=9, config=cfg)
        j = clean.select("record_id", "first_name").join(
            noisy.select("record_id", "first_name").withColumnRenamed(
                "first_name", "noisy_first"
            ),
            "record_id",
        )
        return j.filter(
            "noisy_first IS NULL OR noisy_first != first_name"
        ).count(), noisy.count()

    c_default, n_default = corrupted(get_config())
    c_noisy, _ = corrupted(very_noisy_config())
    assert n_default < n_clean  # omit_row fired
    assert 0 < c_default < c_noisy  # cell noise fired and scales with config
    clean.unpersist()


def test_census_feeds_preprocess(spark):
    """The generated census is schema-compatible with the linkage
    pipeline's census preprocessor (generator → engine, no adapters)."""
    from person_linkage_case_study_spark.plans.preprocess import preprocess_census

    census = generate_decennial_census(spark, 300, seed=1)
    fake = spark.createDataFrame([("UNKNOWN",)], ["fake_name"])
    out = preprocess_census(census, fake)
    assert out.count() > 0
    assert "record_id" in out.columns


def test_ssa_event_structure(spark):
    """Every SSA-known simulant has a creation event; name-change and
    death events are strict subsets keyed to the same ssn."""
    ssa = generate_dataset(spark, "social_security", N, seed=5,
                           config=_clean_config()).cache()
    by_type = {r["event_type"]: r["n"] for r in
               ssa.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    assert by_type["creation"] > by_type.get("name_change", 0) > 0
    assert by_type.get("date_of_death", 0) > 0
    ssa.unpersist()


def test_zero_shuffle_plan(spark):
    """The generator plan contains no Exchange — generation is scan-side
    only, the property that makes it linear at 100 TB."""
    plan = generate_decennial_census(spark, N, seed=1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_generator_feeds_full_pipeline(spark):
    """The reference's whole notebook flow 01→02→03, entirely in-engine:
    generated SSA/W2 datasets build the reference files (02), the
    generated census links against them through the cascade (03), and the
    shared latent-simulant axis provides ground truth — PIK→SSN→sid must
    agree with the census record's sid for ≥95% of confirmed links
    (1% wrong-digit SSN noise in W2 creates genuinely wrong geobase rows,
    the realistic error PVS contends with)."""
    from person_linkage_case_study_spark.operators.gamma import (
        banded_comparison,
        exact_comparison,
        jw_comparison,
    )
    from person_linkage_case_study_spark.operators.scoring import LinkageModel
    from person_linkage_case_study_spark.plans.cascade import (
        CascadeConfig,
        ModuleConfig,
        PassConfig,
        PersonLinkageCascade,
    )
    from person_linkage_case_study_spark.plans.preprocess import (
        preprocess_census,
        preprocess_reference_file,
    )
    from person_linkage_case_study_spark.plans.reference_files import (
        build_geobase_reference_file,
        build_name_dob_reference_file,
        dedupe_alternates,
        mint_pik_crosswalk,
    )
    from person_linkage_case_study_spark.sources.generator import (
        generate_decennial_census,
        generate_social_security,
        generate_taxes_w2_and_1099,
    )

    n = 3000
    ssa = generate_social_security(spark, n, seed=0)
    w2 = generate_taxes_w2_and_1099(spark, n, seed=0)
    census_raw = generate_decennial_census(spark, n, seed=0)

    # notebook 02: reference files from the administrative records
    alt_names = dedupe_alternates(
        ssa, ["ssn", "first_name", "middle_name", "last_name"]
    )
    alt_dobs = dedupe_alternates(ssa, ["ssn", "date_of_birth"])
    xwalk = mint_pik_crosswalk(ssa.select("ssn"))
    name_dob = build_name_dob_reference_file(alt_names, alt_dobs, xwalk)
    addrs = w2.select(
        "record_id", "ssn",
        *[c for c in w2.columns if c.startswith("mailing_address_")],
    )
    geobase = build_geobase_reference_file(name_dob, addrs)
    dod = (
        ssa.filter("event_type = 'date_of_death'")
        .join(xwalk, "ssn")
        .selectExpr("pik", "to_date(event_date, 'yyyyMMdd') AS date_of_death")
    )

    # notebook 03: preprocess + cascade
    fake = spark.createDataFrame([("UNKNOWN",)], ["fake_name"])
    prepped_census = preprocess_census(census_raw, fake, gq_threshold=99)
    prepped_geobase = preprocess_reference_file(geobase)
    prepped_name_dob = preprocess_reference_file(name_dob, has_address=False)

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
    model = LinkageModel(comps, lambda_prior=1e-3)

    config = CascadeConfig(
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
    cascade = PersonLinkageCascade(
        spark, prepped_census,
        {"geobase_reference_file": prepped_geobase,
         "name_dob_reference_file": prepped_name_dob},
        model, dates_of_death=dod,
    )
    confirmed = cascade.run(config).cache()
    n_census = census_raw.count()
    n_links = confirmed.count()
    assert n_links / n_census > 0.5  # most of the enumerated link

    # ground truth: census sid (from record_id) vs PIK→SSN→sid
    scored = (
        confirmed.join(xwalk, "pik")
        .selectExpr(
            "CAST(regexp_extract(record_id_raw_input_file, 'census_2030_(\\\\d+)', 1) AS BIGINT) AS census_sid",
            "CAST(ssn AS BIGINT) - 100000000 AS ref_sid",
        )
    )
    acc = scored.selectExpr(
        "avg(CASE WHEN census_sid = ref_sid THEN 1.0 ELSE 0.0 END) AS acc"
    ).first()["acc"]
    assert acc >= 0.95, acc
    confirmed.unpersist()
