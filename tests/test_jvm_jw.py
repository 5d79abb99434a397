"""Native JVM Jaro-Winkler must match the pandas UDF (and thus DuckDB)."""

import random
import string

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.functions.jvm_udfs import (
    JVM_JW_NAME,
    ensure_jvm_udfs,
)
from person_linkage_case_study_spark.functions.similarity import (
    jaro_winkler_similarity,
)


def test_jvm_jw_matches_python(spark):
    if not ensure_jvm_udfs(spark):
        pytest.skip("sparklinkage.jar not on classpath (run jvm/build.sh)")
    rng = random.Random(4)
    rows = [
        (
            "".join(rng.choice("ABCDE") for _ in range(rng.randint(0, 10))),
            "".join(rng.choice(string.ascii_uppercase) for _ in range(rng.randint(0, 12))),
        )
        for _ in range(500)
    ] + [("MARTHA", "MARHTA"), ("", ""), ("A", "")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select("a", "b", F.call_udf(JVM_JW_NAME, "a", "b").alias("jw")).collect()
    for r in got:
        assert r["jw"] == pytest.approx(
            jaro_winkler_similarity(r["a"], r["b"]), abs=1e-12
        ), (r["a"], r["b"])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pandas_fallback_gamma_parity(spark, monkeypatch):
    """On a session without the jar (``ensure_jvm_udfs`` False) add_gammas
    runs the Arrow pandas UDF, registered under a SQL name, and gives the
    JVM path's gammas row for row."""
    from person_linkage_case_study_spark.functions import jvm_udfs
    from person_linkage_case_study_spark.operators.gamma import (
        add_gammas,
        jw_comparison,
    )

    pairs = spark.createDataFrame(
        [("SMITH", "SMYTH"), ("SMITH", "SMITH"), (None, "X"), ("AB", "ZZ")],
        "name_l string, name_r string",
    )
    comp = jw_comparison("name", thresholds=(0.9, 0.7))
    session_path = add_gammas(pairs, [comp])
    monkeypatch.setattr(jvm_udfs, "ensure_jvm_udfs", lambda spark: False)
    fallback = add_gammas(pairs, [comp])
    assert "ArrowEvalPython" in _plan(fallback)
    a = [r["gamma_name"] for r in session_path.collect()]
    b = [r["gamma_name"] for r in fallback.collect()]
    assert a == b == [1, 3, -1, 0]


def test_ensure_jvm_jw_asks_the_session_catalog(spark):
    """Registration is the session's own: a new session registers the
    function and resolves it, and a function dropped from a session is
    registered again rather than remembered as present."""
    if not ensure_jvm_udfs(spark):
        pytest.skip("sparklinkage.jar not on classpath (run jvm/build.sh)")
    other = spark.newSession()
    assert ensure_jvm_udfs(other)
    assert other.sql(f"SELECT {JVM_JW_NAME}('MARTHA', 'MARTHA')").first()[0] == 1.0
    other.sql(f"DROP TEMPORARY FUNCTION {JVM_JW_NAME}")
    assert not other.catalog.functionExists(JVM_JW_NAME)
    assert ensure_jvm_udfs(other)
    assert other.sql(f"SELECT {JVM_JW_NAME}('AB', 'AB')").first()[0] == 1.0


def test_training_and_scoring_plan_no_python_udf(spark, monkeypatch):
    """With the jar loaded, u/m training and scoring take the same JVM
    Jaro-Winkler: neither ``estimate_u`` nor ``gamma_pattern_counts`` (EM)
    nor ``score_pairs`` plans an ArrowEvalPython node."""
    if not ensure_jvm_udfs(spark):
        pytest.skip("sparklinkage.jar not on classpath (run jvm/build.sh)")
    from person_linkage_case_study_spark.operators import estimation
    from person_linkage_case_study_spark.operators.gamma import jw_comparison
    from person_linkage_case_study_spark.operators.scoring import (
        LinkageModel,
        score_pairs,
    )

    seen = []
    real = estimation.add_gammas

    def recording(pairs, comparisons):
        out = real(pairs, comparisons)
        seen.append(out)
        return out

    monkeypatch.setattr(estimation, "add_gammas", recording)
    people = spark.createDataFrame(
        [("SMITH", "1980"), ("SMYTH", "1980"), ("JONES", "1975")],
        "name string, year string",
    )
    comp = jw_comparison("name", thresholds=(0.9,))
    estimation.estimate_u(people, people, [comp], sample_fractions=(1.0, 1.0))
    model = LinkageModel([comp], lambda_prior=0.01)
    estimation.estimate_m_em(people, people, ["year"], model)
    assert len(seen) == 2
    pairs = spark.createDataFrame(
        [("SMITH", "SMYTH")], "name_l string, name_r string"
    )
    for df in seen + [score_pairs(pairs, model)]:
        assert "ArrowEvalPython" not in _plan(df)
        assert JVM_JW_NAME in _plan(df)
