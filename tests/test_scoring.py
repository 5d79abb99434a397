"""Gamma compiler + Fellegi-Sunter arithmetic (SURVEY.md §2.9 K3/K4)."""

import math

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.operators.gamma import (
    add_gammas,
    banded_comparison,
    jw_comparison,
)
from person_linkage_case_study_spark.operators.scoring import (
    LinkageModel,
    score_pairs,
)


@pytest.fixture(scope="module")
def pairs(spark):
    return spark.createDataFrame(
        [
            # name_l, name_r, year_l, year_r
            ("MARTHA", "MARTHA", 1980, 1980),  # exact, exact
            ("MARTHA", "MARHTA", 1980, 1982),  # jw .961 -> gamma 2, banded
            ("MARTHA", "XAVIER", 1980, 1990),  # else, else
            (None, "MARTHA", None, 1980),  # null, null
        ],
        ["name_l", "name_r", "year_l", "year_r"],
    )


def make_model():
    name = jw_comparison("name", thresholds=(0.9, 0.7))
    name.m = [0.02, 0.05, 0.2, 0.73]
    name.u = [0.9, 0.05, 0.03, 0.02]
    year = banded_comparison("year", band=5)
    year.m = [0.05, 0.25, 0.7]
    year.u = [0.8, 0.15, 0.05]
    return LinkageModel([name, year], lambda_prior=0.01)


def test_gamma_levels(pairs):
    model = make_model()
    got = add_gammas(pairs, model.comparisons).collect()
    assert [r["gamma_name"] for r in got] == [3, 2, 0, -1]
    assert [r["gamma_year"] for r in got] == [2, 1, 0, -1]


def test_fs_score_closed_form(pairs):
    model = make_model()
    rows = score_pairs(pairs, model).collect()
    prior = math.log2(0.01 / 0.99)
    # row 0: exact/exact
    expected0 = prior + math.log2(0.73 / 0.02) + math.log2(0.7 / 0.05)
    assert rows[0]["match_weight"] == pytest.approx(expected0, abs=1e-12)
    # row 3: all null -> prior only
    assert rows[3]["match_weight"] == pytest.approx(prior, abs=1e-12)
    for r in rows:
        assert r["match_probability"] == pytest.approx(
            1 / (1 + 2 ** -r["match_weight"]), abs=1e-12
        )


def test_threshold_filter(pairs):
    model = make_model()
    kept = score_pairs(pairs, model, threshold_match_probability=0.5).collect()
    assert len(kept) == 1  # only the exact/exact pair crosses 0.5


def test_rescoring_a_scored_frame_replaces_scores(pairs):
    """Scoring a frame that already carries match_weight /
    match_probability replaces them (one column of each name, the new
    model's values) instead of raising an ambiguous-reference error."""
    model = make_model()
    first = score_pairs(pairs, model)
    other = make_model()
    other.lambda_prior = 0.5
    again = score_pairs(first, other)
    assert again.columns.count("match_weight") == 1
    assert again.columns.count("match_probability") == 1
    want = score_pairs(pairs, other).select("match_weight", "match_probability")
    got = again.select("match_weight", "match_probability")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    kept = score_pairs(first, model, threshold_match_probability=0.5)
    assert kept.count() == 1


def test_model_subset_and_roundtrip():
    model = make_model()
    sub = model.subset(["name"])
    assert [c.col for c in sub.comparisons] == ["name"]
    d = model.to_dict()
    assert d["lambda_prior"] == 0.01
    assert len(d["comparisons"]) == 2


def test_model_save_load_scores_identically(pairs, tmp_path):
    """K10 full round-trip: save → load → score must produce bit-identical
    match weights (the reference re-uses pickled trained settings per pass,
    03_link_datasets.ipynb:1750-1774)."""
    import json

    model = make_model()
    model.bayes_factor_cut_columns = 42.0
    path = str(tmp_path / "model.json")
    model.save(path)
    loaded = LinkageModel.load(path)
    # dict round-trip is exact
    assert loaded.to_dict() == model.to_dict()
    # json round-trip of the dict too (the driver may re-serialize)
    assert LinkageModel.from_dict(json.loads(json.dumps(model.to_dict()))).to_dict() == model.to_dict()
    a = score_pairs(pairs, model).select("match_weight", "match_probability").collect()
    b = score_pairs(pairs, loaded).select("match_weight", "match_probability").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bayes_factor_cut_columns():
    model = make_model()
    model.bayes_factor_cut_columns = 1000.0
    assert model.prior_odds() == pytest.approx((0.01 / 0.99) * 1000.0)


def test_spark_sql_compilers_match_column_form(pairs, spark):
    """r16 construct-batching pin: the Spark-SQL string compilers
    (Comparison.compile_spark_sql, _log2_bayes_factor_spark_sql) must
    produce BIT-IDENTICAL gammas and match weights to the Column-form
    originals they replaced on the hot path (compile,
    _log2_bayes_factor) — same CASE arm order, same IEEE double
    literals via CAST('<repr>' AS DOUBLE)."""
    from person_linkage_case_study_spark.operators.scoring import (
        _log2_bayes_factor,
        _log2_bayes_factor_spark_sql,
    )

    from person_linkage_case_study_spark.functions.similarity import (
        jaro_winkler_udf,
    )

    model = make_model()
    df = add_gammas(pairs, model.comparisons)  # SQL path (all expressible)

    # column-form gammas computed explicitly via compile() over the same
    # pre-materialized JW column
    jwc = model.comparisons[0]
    jw_needed = pairs.select(
        "*",
        jaro_winkler_udf(F.col("name_l"), F.col("name_r")).alias(jwc.jw_col),
    )
    manual = jw_needed.select(
        "*",
        *[
            c.compile(jw_col=c.jw_col if c.needs_jw() else None).alias(c.gamma_col)
            for c in model.comparisons
        ],
    ).drop(jwc.jw_col)
    got_sql = [(r["gamma_name"], r["gamma_year"]) for r in df.collect()]
    got_col = [(r["gamma_name"], r["gamma_year"]) for r in manual.collect()]
    assert got_sql == got_col

    # weights: SQL CASE sum vs Column when-chain sum, bit-identical
    import math as _m

    weight_col = F.lit(_m.log2(model.prior_odds()))
    for c in model.comparisons:
        weight_col = weight_col + _log2_bayes_factor(c)
    via_col = [r["w"] for r in manual.withColumn("w", weight_col).collect()]
    weight_sql = " + ".join(
        [f"CAST('{_m.log2(model.prior_odds())!r}' AS DOUBLE)"]
        + [f"({_log2_bayes_factor_spark_sql(c)})" for c in model.comparisons]
    )
    via_sql = [r["w"] for r in manual.selectExpr("*", f"{weight_sql} AS w").collect()]
    assert via_sql == via_col  # exact equality, not approx

    # score_pairs end-to-end emits the same weights as the Column math
    end = [r["match_weight"] for r in score_pairs(pairs, model).collect()]
    assert end == via_col

    # a float band binds as a DOUBLE like F.lit(2.5), not a DECIMAL; an
    # int band stays a plain INT literal
    float_band = banded_comparison("year", band=2.5)
    sql = float_band.compile_spark_sql()
    assert "<= CAST('2.5' AS DOUBLE)" in sql
    assert "<= 5 THEN" in banded_comparison("year", band=5).compile_spark_sql()
    via_sql = pairs.selectExpr("*", f"{sql} AS g")
    via_col = pairs.select("*", float_band.compile().alias("g"))
    assert [r["g"] for r in via_sql.collect()] == [r["g"] for r in via_col.collect()]
    assert [r["g"] for r in via_col.collect()] == [2, 1, 0, -1]
