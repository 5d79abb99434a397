"""Session factory: cluster-submit-aware master resolution, and the
session's string defaults.

The same entry points (driver contract, bench, tests) must run under
plain python (→ local[$SPARK_GRAFT_CPUS]) AND under ``spark-submit
--master yarn/k8s`` (→ the submit's master wins; forcing local[] there
would silently collapse a 1000-executor job onto the driver box).
The master-resolution tests are pure python — no session is built.
"""

from pyspark import SparkConf

from person_linkage_case_study_spark.session import _resolve_master


def _empty_conf() -> SparkConf:
    return SparkConf(loadDefaults=False)


def test_explicit_master_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "spark://env-host:7077")
    assert _resolve_master("local[2]", submit_conf=_empty_conf()) == "local[2]"


def test_env_master_wins_over_local_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "yarn")
    assert _resolve_master(None, submit_conf=_empty_conf()) == "yarn"


def test_spark_submit_master_is_not_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    submit = _empty_conf().set("spark.master", "k8s://https://api:6443")
    # None = "leave the builder's master unset so spark-submit's wins"
    assert _resolve_master(None, submit_conf=submit) is None


def test_plain_python_falls_back_to_local(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert _resolve_master(None, submit_conf=_empty_conf()) == "local[7]"


def test_shuffle_partitions_tolerates_non_integer_conf():
    """r9 advice: managed runtimes can set spark.sql.shuffle.partitions
    to 'auto' — the sizing heuristics must fall back, not ValueError."""
    from person_linkage_case_study_spark.session import shuffle_partitions

    class FakeConf:
        def __init__(self, value):
            self._v = value

        def get(self, key, default=None):
            return self._v if self._v is not None else default

    class FakeSpark:
        def __init__(self, value):
            self.conf = FakeConf(value)

    assert shuffle_partitions(FakeSpark("64")) == 64
    assert shuffle_partitions(FakeSpark("auto")) == 200
    assert shuffle_partitions(FakeSpark("auto"), default=32) == 32
    assert shuffle_partitions(FakeSpark(None)) == 200


def test_case_mapping_matches_python(spark):
    """Under the session default (the JVM's case mapping, not ICU's) upper
    and lower of ASCII and accented Latin names are Python's str.upper /
    str.lower, which the reference's pandas ``.str.upper()`` uses."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    names = ["smith", "O'Brien", "José", "ÉLODIE", "Müller", "Straße",
             "STRASSE", "Peña", "ÑÚÑEZ", "çedille ÿ", "", None]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = df.select("name", F.upper("name").alias("u"), F.lower("name").alias("l"))
    for r in got.collect():
        n = r["name"]
        assert r["u"] == (None if n is None else n.upper()), n
        assert r["l"] == (None if n is None else n.lower()), n
