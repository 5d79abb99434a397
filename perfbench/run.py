"""Benchmark entry point.

    python3 perfbench/run.py --workload pvs_cascade --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the workload's inputs from the
seed, runs timed units for ``--seconds`` (at least one unit),
checks the outputs, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, their times scaled to the host's reference speed
(``host.SpeedProbe``); ``--trace 1`` wraps each layer's public functions
in spans and reports the per-layer metrics instead. The line before it is
a JSON object of context (host, set-up parts, samples, problems), and a
traced run also prints its per-layer and per-pass tables. The process exits
non-zero when an output check fails.

Spark runs as ``local[N]`` (``CORES``, at most the available cores) with
the package's default confs. Scratch files go to ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from host import SpeedProbe, at_reference

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "person_linkage_case_study_spark")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    # the workloads and every metric's name and unit
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

LAYER_STATS = ("calls", "wall_s", "self_s", "py4j", "jobs", "exec_cpu_s", "shuffle_write_mb")


def cascade_passes() -> list[tuple[str, str]]:
    """(module, pass) of the 15 default cascade passes, in order."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from person_linkage_case_study_spark.plans.cascade import default_cascade_config

    return [(m.name, p.name) for m in default_cascade_config().modules for p in m.passes]


def pass_metric(module: str, pass_name: str) -> str:
    return f"pass.{module}.{pass_name.replace(' ', '_')}.wall_s"


# local[N] per workload, never above the cores this process may use. The
# driver-bound cascade gets 2: its executors need little, and free cores
# keep the driver thread clear of JIT and GC threads (in two five-seed
# sets its wall spread fell from 0.23 to 0.10 of the median going from 4
# to 2). The dedup gets 4: its tasks and Python workers use more.
CORES = {"pvs_cascade": 2, "dedup_corpus": 4}


def spark_cores(workload: str) -> int:
    return min(CORES[workload], len(os.sched_getaffinity(0)))


def _prepare_env() -> str:
    # one directory per process, so two runs in one checkout never share
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PERFBENCH_WORK"] = work
    # Python workers import the package (UDFs) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.chdir(ROOT)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def _workload(name, spark, seed, tracer):
    if name == "dedup_corpus":
        from dedup import DedupCorpus

        return DedupCorpus(spark, seed, tracer)
    from pvs import PvsCascade

    return PvsCascade(spark, seed, tracer)


def end_to_end(res) -> dict[str, float]:
    """Times are scaled to the host's reference speed (``host.SpeedProbe``)."""
    outs = res.outcomes
    records = sum(o.records for o in outs)
    attempted = sum(o.attempts for o in outs)
    failed = sum(o.attempts for o in outs if o.problems)
    return {
        "setup_s": at_reference(res.setup_s, res.setup_loop_s),
        "records_per_s": records / sum(at_reference(o.wall_s, o.loop_s) for o in outs),
        "cpu_ms_per_record": sum(at_reference(o.cpu_s, o.loop_s) for o in outs) * 1e3 / records,
        "coverage": statistics.median(o.coverage for o in outs),
        "accuracy": statistics.median(o.accuracy for o in outs),
        "success_rate": 1.0 - failed / attempted,
    }


def per_layer(workload, res, tracer) -> tuple[dict[str, float], list[str]]:
    """The per-layer metrics of a traced run and its printable tables."""
    from tracing import STAT_KEYS

    table = tracer.layer_table()
    vals: dict[str, float] = {}
    for layer, row in table.items():
        for k in LAYER_STATS:
            vals[f"{layer}.{k}"] = row[k]
    passes = [s for s in tracer.spans if s.layer == "plans.cascade.pass"]
    by_id = {s.id: s for s in passes}
    for s in tracer.spans:  # a pass's pairs: its own pair estimate's
        if "pairs" in s.attrs and s.parent in by_id:
            by_id[s.parent].attrs["pairs"] = s.attrs["pairs"]
    by_label = {s.label: s for s in passes}
    for m, p in cascade_passes():
        s = by_label.get(f"{m}/{p}")
        vals[pass_metric(m, p)] = s.wall_s if s else 0.0
    pairs = sum(s.attrs.get("pairs", 0) for s in passes)
    links = sum(s.attrs.get("links", 0) for s in passes)
    vals["plans.cascade.pass.links_per_pair"] = links / pairs if pairs else 0.0

    progress = [p for o in res.outcomes for p in o.artifacts.get("progress", [])]

    def med(key):
        xs = [p["durationMs"].get(key, 0) for p in progress]
        return statistics.median(xs) if xs else 0.0

    vals["streaming.trigger_ms"] = med("triggerExecution")
    vals["streaming.add_batch_ms"] = med("addBatch")
    vals["streaming.query_planning_ms"] = med("queryPlanning")
    vals["streaming.wal_commit_ms"] = med("walCommit")
    sink_bytes = sum(_dir_bytes(o.artifacts["sink"]) for o in res.outcomes if "sink" in o.artifacts)
    stream_records = sum(o.artifacts.get("stream_rows", 0) for o in res.outcomes)
    vals["streaming.sink_bytes_per_record"] = sink_bytes / stream_records if stream_records else 0.0
    vals["state.persistent_rdds"] = max(o.persistent_rdds for o in res.outcomes)
    vals["state.temp_views"] = max(o.temp_views for o in res.outcomes)
    vals["all.tasks"] = sum(s.tasks for s in tracer.spans)
    vals["all.failed_tasks"] = sum(s.failed_tasks for s in tracer.spans)
    vals["all.py4j"] = tracer.py4j.n
    vals["all.exec_cpu_s"] = sum(s.exec_cpu_s for s in tracer.spans)
    vals["host.calib_s"] = res.calib_s
    vals["host.loop_ms"] = 1e3 * statistics.median(o.loop_s for o in res.outcomes)
    vals["host.peak_rss_mb"] = res.peak_rss_mb
    vals["host.spark_cores"] = spark_cores(workload)
    for kind, cpu in tracer.window_cpu_s.items():
        vals[f"host.{kind}_cpu_s"] = cpu
    # the share of the traced windows' core-seconds that executors worked:
    # task threads in the JVM plus the Python workers evaluating UDFs
    busy_s = vals["all.exec_cpu_s"] + tracer.window_cpu_s["workers"]
    vals["all.executor_busy_share"] = busy_s / (tracer.window_s * vals["host.spark_cores"])
    vals["trace.overhead_s"] = tracer.overhead_s
    vals["trace.overhead_pct"] = 100.0 * tracer.overhead_s / tracer.window_s

    lines = [f"{'layer':32s} " + " ".join(f"{k:>16s}" for k in STAT_KEYS)]
    for layer, row in table.items():
        lines.append(f"{layer:32s} " + " ".join(
            f"{row[k]:16.3f}" if isinstance(row[k], float) else f"{row[k]:16d}"
            for k in STAT_KEYS))
    if passes:
        lines.append(f"{'pass':48s} {'wall_s':>8s} {'py4j':>7s} {'jobs':>5s} "
                     f"{'exec_cpu_s':>10s} {'pairs':>8s} {'links':>7s} {'eligible':>8s} {'links/pair':>10s}")
        for s in passes:
            pr, lk = s.attrs.get("pairs", 0), s.attrs.get("links", 0)
            lines.append(
                f"{s.label:48s} {s.wall_s:8.3f} {s.py4j:7d} {s.jobs:5d} {s.exec_cpu_s:10.3f} "
                f"{pr:8d} {lk:7d} {s.attrs.get('eligible', 0):8d} "
                f"{(lk / pr if pr > 0 else 0.0):10.4f}")
    confirms = [s for s in tracer.spans if s.layer == "plans.cascade.confirm"]
    if confirms:
        lines.append(f"{'confirm':48s} {'wall_s':>8s} {'py4j':>7s} {'jobs':>5s} {'exec_cpu_s':>10s}")
        for s in confirms:
            lines.append(
                f"{s.label:48s} {s.wall_s:8.3f} {s.py4j:7d} {s.jobs:5d} {s.exec_cpu_s:10.3f}")
    return vals, lines


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _stop_jvm(gateway) -> None:
    """End the JVM PySpark launched and wait for it: closing its stdin is
    the launcher's signal to exit (its Python workers go with it)."""
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: no package at {PKG_DIR}; run from a checkout's root",
              file=sys.stderr)
        return 2
    work = _prepare_env()
    setup_probe = SpeedProbe().start()
    try:
        from person_linkage_case_study_spark.session import get_spark

        n = spark_cores(workload)
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", master=f"local[{n}]",
            # display only: no console progress bars in the benchmark's output
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        return _run_in_session(spark, workload, seed, seconds, trace, session_s, setup_probe)
    finally:
        with contextlib.suppress(RuntimeError):  # no samples: a failed run
            setup_probe.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once empty
            os.rmdir(os.path.dirname(work))


def _run_in_session(spark, workload, seed, seconds, trace, session_s, setup_probe) -> int:
    from harness import measure

    n = spark_cores(workload)
    try:
        tracer = None
        if trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        w = _workload(workload, spark, seed, tracer)
        res = measure(spark, w, seconds, session_s, setup_probe,
                      before_timed=tracer.install if tracer else None)
        if tracer:
            tracer.uninstall()
        problems = [p for o in res.outcomes for p in o.problems]
        attempted = sum(o.attempts for o in res.outcomes)
        failed = sum(o.attempts for o in res.outcomes if o.problems)
        if trace:
            metrics, lines = per_layer(workload, res, tracer)
            print("\n".join(lines))
        else:
            metrics = end_to_end(res)
        units = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
        if set(metrics) != set(units):
            problems.append(f"metrics not in BENCHMARK.json: {sorted(set(metrics) - set(units))}; "
                            f"not measured: {sorted(set(units) - set(metrics))}")
        context = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "nproc": os.cpu_count(), "spark_master": f"local[{n}]",
            "host.calib_s": res.calib_s, "peak_rss_mb": res.peak_rss_mb,
            "setup": res.setup_parts,
            "setup_loop_ms": 1e3 * res.setup_loop_s,
            "unscaled": {  # the end-to-end times as measured
                "setup_s": res.setup_s,
                "records_per_s": sum(o.records for o in res.outcomes)
                / sum(o.wall_s for o in res.outcomes),
                "cpu_ms_per_record": sum(o.cpu_s for o in res.outcomes) * 1e3
                / sum(o.records for o in res.outcomes),
            },
            "units": len(res.outcomes),
            "unit_walls_s": [o.wall_s for o in res.outcomes],
            "unit_cpu_s": [o.cpu_s for o in res.outcomes],
            "unit_loop_ms": [1e3 * o.loop_s for o in res.outcomes],
            "artifacts": [{k: v for k, v in o.artifacts.items() if k not in ("progress", "sink")}
                          for o in res.outcomes],
            "problems": problems,
        }
        print(json.dumps(context))
        print(json.dumps({
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics.get(k, 0)), "unit": u}
                        for k, u in units.items()},
        }))
        return 0 if not problems else 1
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        _stop_jvm(gateway)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
