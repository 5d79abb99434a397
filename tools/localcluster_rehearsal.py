"""Multi-JVM (local-cluster) cascade rehearsal — r12, the r11 verdict's
top-next item.

Spark's ``local-cluster[n,cores,mem_mb]`` test master gives REAL separate
executor JVMs, real serialized network shuffle fetches, and a real
``spark.executor.memory`` heap — without a second host. Two of this
engine's scale claims previously rested on driver-JVM-only evidence
(every prior ladder/skew/capbind rung ran on ``local[32]``, where the
driver IS the executor):

 1. the checkpoint gate's heap denominator
    (``session.executor_heap_bytes``) must resolve to the EXECUTOR conf
    on a cluster master, not the driver JVM's ``Runtime.maxMemory`` —
    the r11 ``session.py`` fix, never exercised on a live multi-JVM
    master until this tool;
 2. 'local' (executor-stored) checkpoint truncation plus the derived
    pin/salt must produce links IDENTICAL to the single-JVM run at the
    same rung.

This tool runs the same two-module cascade as ``tools/bench_linkage.py``
(mode=cascade) at a given scale mult under a given master and emits ONE
JSON line with the link count, wall, derived pass-1 pin/cap/salt, the
resolved checkpoint gate inputs, and hard ASSERTIONS (fields prefixed
``assert_``) that fail the run loudly rather than recording a lie:

- ``assert_heap_is_executor_conf``: under local-cluster, the gate's
  heap denominator equals parse_mem_bytes(spark.executor.memory).
- ``assert_heap_not_driver_max``: it does NOT equal the driver JVM's
  actual Runtime.maxMemory (the driver heap is sized differently on
  purpose so a regression cannot hide behind coincidence).
- ``assert_multi_jvm``: driver + N separate executor JVMs registered,
  and python task workers report PIDs outside the driver process.

Usage::

    python tools/localcluster_rehearsal.py [sf_dir] [mult] [master]

``master`` defaults to ``local-cluster[2,12,12288]`` with
``spark.executor.memory=10g``; pass ``local[32]`` for the control run
(same rung, single JVM) whose link count the artifact compares against.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_linkage import make_model, synthesize  # noqa: E402

from person_linkage_case_study_spark.operators.blocking import (  # noqa: E402
    derive_pair_pin,
    derive_pin_cap,
    derive_salt,
    estimate_pair_row_bytes,
    estimate_pair_stats,
)
from person_linkage_case_study_spark.plans.cascade import (  # noqa: E402
    CascadeConfig,
    ModuleConfig,
    PassConfig,
    PersonLinkageCascade,
)
from person_linkage_case_study_spark.session import (  # noqa: E402
    get_spark,
    parse_mem_bytes,
    shuffle_partitions,
)

DRIVER_MEM = "6g"  # deliberately != executor memory: the denominator
#                    assertion must be able to tell the two heaps apart


def executor_mem_for(master: str) -> str:
    """Executor memory request sized to the master's per-worker MiB
    (``local-cluster[n,cores,mem_mb]``): the worker must be able to
    grant it, and leaving ~2 GiB headroom on big workers mirrors how a
    real submit leaves room for overhead. ``SPARK_GRAFT_EXECUTOR_MEM``
    overrides."""
    env = os.environ.get("SPARK_GRAFT_EXECUTOR_MEM")
    if env:
        return env
    try:
        worker_mb = int(master.rstrip("]").rsplit(",", 1)[-1])
    except ValueError:
        return "10g"
    return f"{worker_mb - 2048 if worker_mb >= 8192 else worker_mb}m"

MATCHING = [
    "first_name_15", "last_name_12", "middle_initial",
    "day_of_birth", "month_of_birth", "year_of_birth",
]


def cascade_config() -> CascadeConfig:
    """The same two-module cascade bench_linkage runs (geokey pass +
    name-switch pass, then the namesearch pass) with every knob left to
    the derivations — the zero-knob path is the claim under test."""
    return CascadeConfig(
        modules=[
            ModuleConfig(
                name="geosearch",
                reference_file_name="ref",
                cut_columns=["zip3"],
                matching_columns=MATCHING,
                passes=[
                    PassConfig("geokey", ["geokey_for_blocking"], 0.9),
                    PassConfig(
                        "geokey name switch",
                        ["geokey_for_blocking"],
                        0.9,
                        switch_names=True,
                    ),
                ],
            ),
            ModuleConfig(
                name="namesearch",
                reference_file_name="ref",
                cut_columns=["zip3"],
                matching_columns=MATCHING,
                passes=[
                    PassConfig(
                        "dob and initials",
                        ["year_of_birth", "first_name_1", "last_name_1"],
                        0.9,
                    ),
                ],
            ),
        ]
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    master = sys.argv[3] if len(sys.argv) > 3 else "local-cluster[2,12,12288]"
    is_lc = master.startswith("local-cluster")

    extra = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.shuffle.partitions": str(max(32, 2 * mult)),
    }
    exec_mem = executor_mem_for(master)
    if is_lc:
        extra["spark.executor.memory"] = exec_mem
    spark = get_spark("localcluster-rehearsal", master=master, extra_conf=extra)
    sc = spark.sparkContext

    census, ref = synthesize(spark, sf_dir, mult)
    n_records = census.count()
    ref = ref.persist()
    ref.count()

    # pass-1 derivations, recomputed the way the cascade derives them
    # (same estimator, same inputs) so the artifact shows the values
    keys = ["zip3", "geokey_for_blocking"]
    cols = list(dict.fromkeys(["record_id", *keys, *MATCHING]))
    st = estimate_pair_stats(
        census.select(*cols, "record_id_raw_input_file"),
        ref.select(*[c for c in cols if c in ref.columns]),
        keys,
    )
    rb = estimate_pair_row_bytes(
        census.select(*cols, "record_id_raw_input_file"),
        ref.select(*[c for c in cols if c in ref.columns]),
        keys,
        stats=st,
    )
    cap = derive_pin_cap(sc.defaultParallelism, conf=spark.conf)
    pin = derive_pair_pin(
        st.pairs, st.n_left, st.n_right, shuffle_partitions(spark),
        pair_row_bytes=rb, cap=cap,
    )
    salt = derive_salt(st.max_key_pairs, pair_row_bytes=rb)

    cascade = PersonLinkageCascade(
        spark, census, {"ref": ref}, make_model()
    )
    t0 = time.time()
    confirmed = cascade.run(cascade_config())
    n_links = confirmed.count()
    wall = round(time.time() - t0, 3)

    # --- evidence + assertions ------------------------------------------
    driver_max = int(
        sc._jvm.java.lang.Runtime.getRuntime().maxMemory()  # type: ignore
    )
    heap = cascade._heap_bytes  # the denominator the gate actually used
    exec_infos = sc._jsc.sc().statusTracker().getExecutorInfos()
    driver_pid = os.getpid()
    task_pids = sorted(
        set(
            sc.parallelize(range(2 * sc.defaultParallelism), 2 * sc.defaultParallelism)
            .mapPartitions(lambda it: [os.getpid()])
            .collect()
        )
    )
    remote_workers = [p for p in task_pids if p != driver_pid]

    payload = {
        "metric": "localcluster_cascade_wall",
        "value": wall,
        "unit": "sec",
        "master": master,
        "records": n_records,
        "links": n_links,
        "mult": mult,
        "sf": (
            float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
            if "sf" in sf_dir
            else -1.0
        ),
        "default_parallelism": sc.defaultParallelism,
        "executor_memory_conf": extra.get("spark.executor.memory"),
        "driver_memory_conf": DRIVER_MEM,
        "driver_jvm_max_memory": driver_max,
        "gate_heap_bytes": heap,
        "ckpt_level": str(cascade._ckpt_level),
        "ckpt_rows_bound": cascade._ckpt_rows,
        "ckpt_bytes_bound": cascade._ckpt_bytes,
        "est_pairs_pass1": st.pairs,
        "max_key_pairs_pass1": st.max_key_pairs,
        "pair_row_bytes_pass1": rb,
        "pin_cap": cap,
        "derived_pin_pass1": pin,
        "derived_salt_pass1": salt,
        "executor_jvms_incl_driver": len(exec_infos),
        "python_worker_pids": len(task_pids),
        "remote_python_workers": len(remote_workers),
    }
    if is_lc:
        want = parse_mem_bytes(exec_mem)
        payload["assert_heap_is_executor_conf"] = heap == want
        payload["assert_heap_not_driver_max"] = heap != driver_max
        payload["assert_multi_jvm"] = (
            len(exec_infos) >= 3 and len(remote_workers) > 0
        )
        failed = [k for k in payload if k.startswith("assert_") and not payload[k]]
        if failed:
            print(json.dumps(payload))
            raise SystemExit(f"REHEARSAL ASSERTIONS FAILED: {failed}")
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
