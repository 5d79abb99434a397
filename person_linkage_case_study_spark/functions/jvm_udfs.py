"""The package's JVM UDFs (jvm/sparklinkage.jar) and the one rule that
chooses between them and their Arrow pandas-UDF fallbacks.

Every UDF in the jar has a pure-Python twin that returns the same values.
A session takes the JVM UDFs when the jar is on its classpath, all of them
or none, and the pandas UDFs otherwise; callers name the chosen function
in SQL, so they emit one string whichever runs.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql.types import DoubleType, StringType

JVM_JW_NAME = "jaro_winkler_jvm"
JVM_NYSIIS_NAME = "nysiis_jvm"

#: SQL name → (class in the jar, return type)
JVM_UDFS = {
    JVM_JW_NAME: ("sparklinkage.JaroWinkler", DoubleType()),
    JVM_NYSIIS_NAME: ("sparklinkage.Nysiis", StringType()),
}


def ensure_jvm_udfs(spark) -> bool:
    """Register every JVM UDF of the jar on this session if the jar is on
    the classpath; returns availability.

    The session's own catalog records the registration: a function
    already registered there is reused. Registration loads the class, so
    it fails on a session without the jar (or with a jar that lacks one of
    the classes, which then counts as no jar).
    """
    for name, (cls, return_type) in JVM_UDFS.items():
        if spark.catalog.functionExists(name):
            continue
        try:
            spark.udf.registerJavaFunction(name, cls, return_type)
        except AnalysisException:  # the class is not on the classpath
            return False
    return True


def sql_function(spark, jvm_name: str, py_name: str, py_udf) -> str:
    """The SQL name of one function on this session: ``jvm_name`` when
    :func:`ensure_jvm_udfs` holds, else the pandas UDF ``py_udf``,
    registered under ``py_name``."""
    if ensure_jvm_udfs(spark):
        return jvm_name
    if not spark.catalog.functionExists(py_name):
        spark.udf.register(py_name, py_udf)
    return py_name
