"""u-estimation and EM training (SURVEY.md §2.4 A10/A11)."""

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.operators.estimation import (
    estimate_m_em,
    estimate_u,
    lambda_from_expected_match_rate,
)
from person_linkage_case_study_spark.operators.gamma import (
    banded_comparison,
    exact_comparison,
    jw_comparison,
)
from person_linkage_case_study_spark.operators.scoring import LinkageModel


def test_estimate_u_proportions(spark):
    # left/right share the value 'x' in ~10% of rows: u[exact gamma=1] ≈ 0.1^... small
    left = spark.createDataFrame(
        [(("x" if i % 10 == 0 else f"l{i}"),) for i in range(200)], ["v"]
    )
    right = spark.createDataFrame(
        [(("x" if i % 10 == 0 else f"r{i}"),) for i in range(200)], ["v"]
    )
    comps = [exact_comparison("v")]
    estimate_u(left, right, comps, max_pairs=1e6, seed=7)
    u = comps[0].u
    assert len(u) == 2
    # P(random pair agrees) = 0.1 * 0.1 = 0.01
    assert u[1] == pytest.approx(0.01, rel=0.5)
    assert u[0] == pytest.approx(0.99, rel=0.05)


def test_estimate_u_spreads_cross_product(spark, monkeypatch):
    """The cross product of two one-partition samples runs over at least
    ``defaultParallelism`` partitions, and u is what it was when the
    product ran as one task (literals captured from that code): the left
    sample is spread after sampling, so the drawn rows do not change."""
    from person_linkage_case_study_spark.operators import estimation

    names = ["MARTHA", "MARHTA", "MARTA", "XAVIER", "JOHN", "JON", "JOHNNY",
             "ANN", "ANNE", None]
    left = spark.createDataFrame(
        [(names[i % 10], 1950 + (i * 7) % 40) for i in range(500)],
        "name string, year int",
    ).coalesce(1)
    right = spark.createDataFrame(
        [(names[(i * 3) % 10], 1950 + (i * 11) % 45) for i in range(500)],
        "name string, year int",
    ).coalesce(1)
    products = []
    real_add_gammas = estimation.add_gammas
    monkeypatch.setattr(
        estimation, "add_gammas",
        lambda pairs, comps: products.append(pairs) or real_add_gammas(pairs, comps),
    )
    comps = [jw_comparison("name"), banded_comparison("year", band=2)]
    estimate_u(left, right, comps, max_pairs=4e4, seed=99)
    assert [c.u for c in comps] == [
        [0.7216464022324098, 0.01866985582353332, 0.14726596239452527,
         0.1124177795495316],
        [0.8911148899989372, 0.08614092889786375, 0.022744181103199066],
    ]
    [product] = products
    assert (
        product.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    )


def test_em_recovers_m_on_planted_data(spark):
    """Plant matched pairs (same id => name agrees 90%) among non-matches;
    EM with fixed u/λ should push m[1] toward ~0.9."""
    import random

    rng = random.Random(5)
    n = 400
    rows_l, rows_r = [], []
    for i in range(n):
        blk = i % 20
        name = f"name{i}"
        rows_l.append((blk, name, i))
        # matched partner agrees on name with p=0.9
        rname = name if rng.random() < 0.9 else f"other{i}"
        rows_r.append((blk, rname, i))
    left = spark.createDataFrame(rows_l, ["blk", "name", "lid"])
    right = spark.createDataFrame(rows_r, ["blk", "name", "rid"])

    comp = exact_comparison("name")
    # u from seeded random sampling first (the reference's order of
    # operations: estimate_u_using_random_sampling, then EM with u fixed)
    estimate_u(left, right, [comp], max_pairs=1e6, seed=3)
    assert comp.u[1] < 0.01  # names almost never agree at random
    model = LinkageModel([comp], lambda_prior=1 / 20)  # 1 match per 20-pair block
    estimate_m_em(left, right, ["blk"], model)
    assert model.comparisons[0].m[1] == pytest.approx(0.9, abs=0.08)


def test_lambda_prior():
    lam = lambda_from_expected_match_rate(1000, 1000, 900)
    assert lam == pytest.approx(9e-4)
