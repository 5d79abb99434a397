"""The jar's UDFs: every source is built into the committed jar, and the
JVM NYSIIS gives the Python ``nysiis``'s codes, in preprocessing too."""

import os
import random
import zipfile

import pytest
from pyspark.sql import functions as F

import person_linkage_case_study_spark
from person_linkage_case_study_spark.functions import jvm_udfs
from person_linkage_case_study_spark.functions.jvm_udfs import (
    JVM_NYSIIS_NAME,
    ensure_jvm_udfs,
)
from person_linkage_case_study_spark.functions.phonetics import (
    PY_NYSIIS_NAME,
    nysiis,
    nysiis_sql_function,
)
from person_linkage_case_study_spark.plans.preprocess import (
    preprocess_census,
    preprocess_reference_file,
)

JVM_DIR = os.path.join(os.path.dirname(person_linkage_case_study_spark.__file__), "jvm")

GOLDEN_NAMES = [
    "Knight", "MACINTOSH", "Phillip", "Schmidt", "O'Brien", "bill", "Smith",
    "Brown", "", "Knuth", "Kool", "Pfeffer", "Schaefer", "Lawson",
]


def _require_jar(spark):
    if not ensure_jvm_udfs(spark):
        pytest.skip("sparklinkage.jar not on classpath (run jvm/build.sh)")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jvm_codes(spark, names: list) -> list:
    df = spark.createDataFrame([(n,) for n in names], "name string")
    rows = df.select("name", F.call_function(JVM_NYSIIS_NAME, "name").alias("code"))
    return [(r["name"], r["code"]) for r in rows.collect()]


def test_jar_has_a_class_for_every_source():
    """A UDF source added or renamed without re-running jvm/build.sh would
    leave the session on the Python fallback with no error."""
    src = os.path.join(JVM_DIR, "src", "sparklinkage")
    with zipfile.ZipFile(os.path.join(JVM_DIR, "sparklinkage.jar")) as jar:
        classes = set(jar.namelist())
    sources = [f for f in os.listdir(src) if f.endswith(".java")]
    assert sources
    for f in sources:
        assert f"sparklinkage/{f[:-len('.java')]}.class" in classes, f


def test_jvm_nysiis_matches_python_goldens_and_fuzz(spark):
    """Goldens, NULL, and a seeded fuzz of ASCII and Latin-1 strings with
    punctuation, spaces and the empty string."""
    _require_jar(spark)
    rng = random.Random(10)
    latin1 = [chr(c) for c in range(0x20, 0x100) if c not in range(0x7F, 0xA0)]
    pools = [latin1, list("ABCDEHIKMNOPQRSTVWZ"), list("aeiouhwkscpnv'- .")]
    fuzz = [
        "".join(rng.choice(pool) for _ in range(rng.randint(0, 14)))
        for pool in (rng.choice(pools) for _ in range(3000))
    ]
    names = GOLDEN_NAMES + ["ß", "Ñúñez", "ÉLODIE", "ÿ", "µ", "EE", "MAC"] + fuzz + [None]
    for name, code in _jvm_codes(spark, names):
        assert code == nysiis(name), name


def test_jvm_nysiis_matches_python_on_small_sample_names(spark):
    """Every first, middle and last name of a generated small_sample world,
    noise included."""
    from person_linkage_case_study_spark.plans.small_sample import (
        synthesize_small_sample,
    )

    _require_jar(spark)
    data = synthesize_small_sample(spark, n_simulants=500, seed=3)
    names = set()
    for frame in ("census_raw", "ssa_numident"):
        df = data[frame]
        for col in ("first_name", "middle_name", "last_name"):
            if col in df.columns:
                names |= {r[0] for r in df.select(col).distinct().collect()}
    assert len(names) > 100
    for name, code in _jvm_codes(spark, sorted(names, key=str)):
        assert code == nysiis(name), name


def _prepped(spark):
    census = spark.createDataFrame(
        [
            ("c1", "Bill", "Q", "Knight", "12", "Main Street", None, "Anytown",
             "WA", "98101", "01/02/1970", "Household"),
            ("c2", "Schaefer", None, "O'Brien", "7", "oak  str", "2", "Anytown",
             "WA", "98101", "12/24/1980", "Household"),
            ("c3", "Müller", "É", "Peña", None, None, None, None, None, None,
             "bad", None),
        ],
        "record_id string, first_name string, middle_initial string,"
        " last_name string, street_number string, street_name string,"
        " unit_number string, city string, state string, zipcode string,"
        " date_of_birth string, housing_type string",
    )
    fake = spark.createDataFrame([("Baby",)], ["fake_name"])
    ref = spark.createDataFrame(
        [("r1", "p1", "Phillip", "K", "Lawson", "19700102", "12", "Main St",
          None, "Anytown", "WA", "98101")],
        "record_id string, pik string, first_name string, middle_name string,"
        " last_name string, date_of_birth string,"
        " mailing_address_street_number string, mailing_address_street_name string,"
        " mailing_address_unit_number string, mailing_address_city string,"
        " mailing_address_state string, mailing_address_zipcode string",
    )
    return [
        preprocess_census(census, fake, gq_threshold=99),
        preprocess_reference_file(ref),
        preprocess_reference_file(ref.drop(*[c for c in ref.columns if "mailing" in c]),
                                  has_address=False),
    ]


def test_preprocess_runs_no_python_udf_and_matches_fallback(spark, monkeypatch):
    """With the jar no preprocess plan evaluates Python; forced onto the
    pandas UDF (a session without the jar) the three frames are the same."""
    _require_jar(spark)
    session_path = _prepped(spark)
    for df in session_path:
        assert "ArrowEvalPython" not in _plan(df)
        assert JVM_NYSIIS_NAME in _plan(df.select("first_name_nysiis"))
    monkeypatch.setattr(jvm_udfs, "ensure_jvm_udfs", lambda spark: False)
    assert nysiis_sql_function(spark) == PY_NYSIIS_NAME
    fallback = _prepped(spark)
    for jvm_df, py_df in zip(session_path, fallback):
        assert "ArrowEvalPython" in _plan(py_df)
        assert jvm_df.schema == py_df.schema
        assert sorted(map(str, jvm_df.collect())) == sorted(map(str, py_df.collect()))
    census = {r["record_id"]: r for r in session_path[0].collect()}
    assert census["census_2030_preprocessed_c1_1"]["first_name"] == "William"
    assert census["census_2030_preprocessed_c2_0"]["street_name"] == "OAK ST"
    assert census["census_2030_preprocessed_c2_0"]["last_name_nysiis"] == nysiis("O'Brien")
