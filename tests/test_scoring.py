"""Gamma compiler + Fellegi-Sunter arithmetic (SURVEY.md §2.9 K3/K4)."""

import math

import pytest

from person_linkage_case_study_spark.operators.gamma import (
    DUCKDB,
    SPARK,
    add_gammas,
    banded_comparison,
    jw_comparison,
)
from person_linkage_case_study_spark.operators.scoring import (
    LinkageModel,
    match_weight_sql,
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


def _duckdb_scores(model, rows):
    """(gammas..., match_weight) per row, evaluated by DuckDB over the
    DuckDB-dialect SQL of ``model`` (the correctness oracles' path)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pairs (name_l VARCHAR, name_r VARCHAR,"
        " year_l INTEGER, year_r INTEGER)"
    )
    con.executemany("INSERT INTO pairs VALUES (?, ?, ?, ?)", rows)
    gammas = ", ".join(
        f"{c.gamma_sql(DUCKDB)} AS {c.gamma_col}" for c in model.comparisons
    )
    return con.execute(
        f"SELECT *, {match_weight_sql(model, DUCKDB)} AS w"
        f" FROM (SELECT {gammas} FROM pairs)"
    ).fetchall()


PAIR_ROWS = [
    ("MARTHA", "MARTHA", 1980, 1980),
    ("MARTHA", "MARHTA", 1980, 1982),
    ("MARTHA", "XAVIER", 1980, 1990),
    (None, "MARTHA", None, 1980),
]


def test_spark_dialect_matches_duckdb_dialect(pairs, spark):
    """The emitter's two dialects agree on the same model and pairs:
    Spark evaluating the Spark-dialect SQL (``score_pairs``) and DuckDB
    evaluating the DuckDB-dialect SQL give the same gammas and exactly the
    same match weights: both dialects bind the weight literals as DOUBLE,
    so both engines add the same doubles in the same order (bare literals
    made DuckDB add them in exact DECIMAL, off in the last digits)."""
    assert [tuple(r) for r in pairs.collect()] == PAIR_ROWS
    model = make_model()
    spark_rows = [
        (r["gamma_name"], r["gamma_year"], r["match_weight"])
        for r in score_pairs(pairs, model).collect()
    ]
    duck_rows = _duckdb_scores(model, PAIR_ROWS)
    assert [r[:2] for r in spark_rows] == [r[:2] for r in duck_rows]
    assert [r[:2] for r in spark_rows] == [(3, 2), (2, 1), (0, 0), (-1, -1)]
    assert [r[2] for r in spark_rows] == [r[2] for r in duck_rows]
    assert all(type(r[2]) is float for r in duck_rows)

    # a float band binds as a DOUBLE in both dialects (CAST, not a
    # DECIMAL literal); an int band stays a plain INT literal; both
    # dialects give the same gammas
    float_band = banded_comparison("year", band=2.5)
    sql = float_band.gamma_sql(SPARK)
    assert "<= CAST('2.5' AS DOUBLE)" in sql
    assert "<= CAST('2.5' AS DOUBLE) THEN" in float_band.gamma_sql(DUCKDB)
    assert "<= 5 THEN" in banded_comparison("year", band=5).gamma_sql(SPARK)
    via_spark = [r["g"] for r in pairs.selectExpr(f"{sql} AS g").collect()]
    float_band.m, float_band.u = [0.1, 0.2, 0.7], [0.7, 0.2, 0.1]
    via_duck = [r[0] for r in _duckdb_scores(LinkageModel([float_band]), PAIR_ROWS)]
    assert via_spark == via_duck == [2, 1, 0, -1]


def _level(kind, **kw):
    return {"kind": kind, "threshold": kw.get("threshold"), "band": kw.get("band")}


def _model_dict(levels, m=None, u=None):
    n = len([lv for lv in levels if lv["kind"] != "null"])
    return {
        "lambda_prior": 0.01,
        "comparisons": [
            {"col": "name", "levels": levels,
             "m": m if m is not None else [0.5] * n,
             "u": u if u is not None else [0.5] * n}
        ],
    }


@pytest.mark.parametrize(
    "case",
    [
        "custom_kind",
        "unknown_kind",
        "else_not_last",
        "two_null_levels",
        "jw_without_threshold",
        "m_too_short",
        "u_too_long",
    ],
)
def test_malformed_models_rejected(pairs, case):
    """A malformed model raises where it enters (``from_dict`` /
    ``Comparison``, or ``score_pairs`` for m/u of the wrong length)
    instead of scoring differently in the engine and the oracle."""
    exact, null, else_ = _level("exact"), _level("null"), _level("else")
    entry = {
        "custom_kind": [null, {"kind": "custom", "threshold": None, "band": None,
                               "sql": "abs({l} - {r}) <= 1"}, else_],
        "unknown_kind": [null, _level("soundex"), else_],
        "else_not_last": [null, else_, exact],
        "two_null_levels": [null, exact, null, else_],
        "jw_without_threshold": [null, exact, _level("jaro_winkler"), else_],
    }
    if case in entry:
        with pytest.raises(ValueError):
            LinkageModel.from_dict(_model_dict(entry[case]))
        return
    model = make_model()
    if case == "m_too_short":
        model.comparisons[1].m = model.comparisons[1].m[:2]
    else:
        model.comparisons[0].u = model.comparisons[0].u + [0.5]
    with pytest.raises(ValueError):
        score_pairs(pairs, model)
