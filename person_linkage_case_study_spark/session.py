"""SparkSession factory with scale-oriented defaults.

The reference hand-rolls partition balancing, spill management, and shuffle
parallelism tuning (distributed_compute.py:574-634,990-991,44-68); on Spark
these collapse into AQE + a handful of confs set once here. Every entry point
(tests, bench, driver contract) builds its session through ``get_spark`` so
the physical-execution posture is uniform.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for a large cluster but safe on local[N]:
# - AQE on: runtime partition coalescing replaces the reference's rebalance(),
#   skew-join replaces its hand salting for all but pathological keys.
# - Arrow on: vectorized pandas_udf transfer for the phonetic/similarity UDFs.
# - 64MB advisory partitions: at 100TB input this yields well-sized reducers;
#   AQE coalesces the small local case down automatically.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # big Arrow batches amortize pandas-UDF overhead and let the JW kernel's
    # per-batch unique-pair dedup actually deduplicate (10k-row default
    # batches barely repeat; 200k-row batches repeat heavily)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "200000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # upper/lower through the JVM's case mapping, not ICU's: the same
    # strings (Python's str.upper/str.lower, which the reference's pandas
    # .str.upper() uses, agree with both on Latin names), without ICU's
    # one-time class initialisation, which took 1.5 s of the first upper()
    # in a fresh JVM
    "spark.sql.icu.caseMappings.enabled": "false",
}


def shuffle_partitions(spark: SparkSession, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerant of platforms
    that set it to a non-integer value such as ``"auto"`` (some managed
    runtimes do) — the sizing heuristics that read it must degrade to a
    default, not turn a perf hint into a pass-aborting ValueError."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        return default


_MEM_SUFFIX = {"k": 10, "m": 20, "g": 30, "t": 40}


def parse_mem_bytes(value: str) -> int:
    """JVM/Spark-style memory string → bytes ('64g', '8192m', and the
    Spark-legal two-letter forms '64gb'/'8192mb' — r10, advisor: those
    used to fall through to int() and silently lose the conf; bare
    number = bytes). Raises ValueError on anything else."""
    s = str(value).strip().lower()
    if len(s) >= 2 and s[-1] == "b" and s[-2] in _MEM_SUFFIX:
        s = s[:-1]  # Spark accepts '64gb' as a synonym of '64g'
    if s and s[-1] in _MEM_SUFFIX:
        return int(float(s[:-1]) * (1 << _MEM_SUFFIX[s[-1]]))
    return int(s)


def executor_heap_bytes(spark: SparkSession, default: int = 8 << 30) -> int:
    """The per-executor JVM heap in bytes — the denominator for
    storage-pressure heuristics (e.g. deriving a checkpoint storage
    level). On a ``local[*]`` master the driver IS the executor and
    ``spark.executor.memory`` is INERT — a shared conf template that
    sets it would feed the wrong denominator (r10, advisor) — so local
    masters go straight to the driver JVM's actual
    ``Runtime.maxMemory()`` (which reflects the real -Xmx however it
    was configured). On a cluster master, ``spark.executor.memory``
    when set (cluster submits set it); the driver's maxMemory is only
    the last-ditch fallback there, since it is NOT the executor heap.
    Degrades to ``default`` rather than raising — like
    :func:`shuffle_partitions`, a sizing heuristic must never turn a
    platform quirk into a crash."""
    try:
        master = str(spark.sparkContext.master)
        # 'local-cluster[n,c,m]' spawns REAL separate executor JVMs
        # (Spark's multi-JVM test master) — there spark.executor.memory
        # is meaningful and the driver's maxMemory is the wrong heap
        # denominator, so only bare local[*] masters take the driver
        # shortcut (r10 advisor)
        is_local = master.startswith("local") and not master.startswith(
            "local-cluster"
        )
    except Exception:
        is_local = False
    if not is_local:
        try:
            conf_val = spark.conf.get("spark.executor.memory", None)
        except Exception:
            conf_val = None
        if conf_val:
            try:
                return parse_mem_bytes(conf_val)
            except (TypeError, ValueError):
                pass
    try:
        jvm = spark.sparkContext._jvm
        return int(jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:
        return default


def _under_spark_submit() -> bool:
    """True when this python process was launched BY ``spark-submit``
    (its PythonRunner starts the py4j gateway and exports the port to
    the app before user code runs).

    Detection must NOT rely on ``SparkConf()``: without a live gateway
    handle, pyspark's SparkConf silently IGNORES ``loadDefaults`` and
    reports an empty conf — which made every submit run here fall back
    to ``local[32]`` while the standalone fleet sat idle (found r7 when
    the rehearsal app's tasks logged ``executor driver``; the r6
    rehearsal numbers were therefore local-mode too and are re-measured
    this round). The env marker is unambiguous and costs nothing."""
    return "PYSPARK_GATEWAY_PORT" in os.environ


def _submit_properties():
    """The submit-time JVM properties (``--master``, ``--conf``,
    ``--properties-file``) when running under spark-submit, else None.
    Connects to the EXISTING gateway — cheap, the JVM is already up.
    Never launches a gateway: a plain-python run must keep its pre-JVM
    conf window so ``spark.driver.memory`` sizing still lands."""
    if not _under_spark_submit():
        return None
    from pyspark import SparkConf
    from pyspark.context import SparkContext

    SparkContext._ensure_initialized()  # attach to spark-submit's gateway
    return SparkConf()  # now JVM-backed: sees the submit-time properties


def _resolve_master(explicit: str | None, submit_conf=None) -> str | None:
    """Master-URL resolution, cluster-submit aware.

    Priority: explicit argument > ``SPARK_GRAFT_MASTER`` env > whatever
    ``spark-submit --master`` already put in the JVM system properties
    (returned as None — the builder must NOT override it, or every
    cluster submit would silently collapse back to one local box) >
    ``local[$SPARK_GRAFT_CPUS]`` for plain-python runs (tests, bench,
    the driver harness)."""
    if explicit is not None:
        return explicit
    env = os.environ.get("SPARK_GRAFT_MASTER")
    if env:
        return env
    if submit_conf is None:
        submit_conf = _submit_properties()
    if submit_conf is not None and submit_conf.contains("spark.master"):
        return None  # under spark-submit: its --master wins
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "spark-linkage",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same code runs under the driver harness, pytest, and bench —
    except under ``spark-submit``, whose ``--master`` is honored (see
    ``_resolve_master``), so the identical entry points run on a real
    cluster with no code changes.
    """
    master = _resolve_master(master)
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    # ship the JVM UDF jar (native Jaro-Winkler — zero Arrow transfer on
    # the scoring hot path) when it has been built
    jar = os.path.join(os.path.dirname(__file__), "jvm", "sparklinkage.jar")
    if os.path.exists(jar):
        conf.setdefault("spark.jars", jar)
    if extra_conf:
        conf.update(extra_conf)
    # builder confs outrank spark-submit --conf, so the engine DEFAULTS
    # must yield to anything the submit command set explicitly (a cluster
    # submit tuning spark.sql.shuffle.partitions=4000 must not be
    # clobbered back to the local default of 32); confs the CALLER passed
    # via extra_conf are deliberate and keep builder precedence. The
    # submit-time properties come from the JVM gateway (_submit_properties
    # — a bare SparkConf() without a gateway is silently EMPTY, r7 fix);
    # in plain-python runs there is nothing to yield to.
    submit = _submit_properties()
    for k, v in conf.items():
        if extra_conf and k in extra_conf:
            builder = builder.config(k, v)
        elif submit is None or not submit.contains(k):
            builder = builder.config(k, v)
    return builder.getOrCreate()
