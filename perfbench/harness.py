"""Workload protocol and the measurement loop shared by every workload.

A workload builds its inputs from the seed, then runs timed units until the
run's seconds are spent (at least one unit). Each unit returns an
``Outcome``; ``check`` may add problems to them after the timer stops.
Between units the state the unit left behind (persisted RDDs, cached
tables, temp views) is counted, then released.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import time
from dataclasses import dataclass, field

import host


@dataclass
class Outcome:
    wall_s: float  # timed work of the unit
    cpu_s: float  # process-tree CPU of the timed work
    loop_s: float  # the speed probe's median loop time during it
    records: int  # input records the unit processed
    coverage: float  # see README: PIK coverage, or near-dup recall
    accuracy: float  # PIK accuracy (definition 3), or near-dup precision
    problems: list[str]
    attempts: int = 1  # outputs checked: a unit fails all of them at once
    artifacts: dict = field(default_factory=dict)
    persistent_rdds: int = 0
    temp_views: int = 0


class Workload:
    def __init__(self, spark, seed: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work_dir = os.environ["PERFBENCH_WORK"]

    # -- hooks ----------------------------------------------------------
    def build_inputs(self) -> None:
        raise NotImplementedError

    def run_unit(self) -> Outcome:
        raise NotImplementedError

    def check(self, outcomes: list[Outcome]) -> None:
        """Checks that need every unit's output (default: none)."""

    # -- helpers --------------------------------------------------------
    def span(self, layer: str, label: str = "materialize"):
        """A benchmark-side span (not a call) when tracing, else nothing."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, label, call=False)

    def timed(self):
        """``with self.timed() as t:`` — t.wall_s, t.cpu_s (process tree)
        and t.loop_s (the speed probe's) of the block once it exits. The
        block is traced."""
        return _Timer(self.window())

    def window(self):
        """A block of the program's work: traced when tracing (checks
        stay outside, so that their calls and py4j sends are not
        counted)."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.window()

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


class _Timer:
    def __init__(self, window):
        self._window = window

    def __enter__(self):
        self._probe = host.SpeedProbe().start()
        self.cpu_s, self.wall_s = host.tree_cpu_s(), time.perf_counter()
        self._window.__enter__()
        return self

    def __exit__(self, *exc):
        self._window.__exit__(*exc)
        self.wall_s = time.perf_counter() - self.wall_s
        self.cpu_s = host.tree_cpu_s() - self.cpu_s
        # after the CPU reading: reaping the probe adds its CPU to ours
        self.loop_s = self._probe.stop()
        return False


def _collect_garbage(spark) -> None:
    """Run Python's and the JVM's garbage collectors until the state
    counts settle, so that the state counted after a unit is what the
    program still holds. Python's finalizers detach JVM objects from a
    thread of their own, and Spark's context cleaner unpersists what the
    JVM collected on another: each gets half a second."""
    last = None
    for _ in range(5):
        gc.collect()
        time.sleep(0.5)
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        counts = _state_counts(spark)
        if counts == last:
            return
        last = counts


def _state_counts(spark) -> tuple[int, int]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    return rdds, views


def _release_new_state(spark, keep: set[int]) -> None:
    """Drop cached tables and temp views, and unpersist every RDD not in
    ``keep`` (the inputs')."""
    spark.catalog.clearCache()
    for v in [t.name for t in spark.catalog.listTables() if t.isTemporary]:
        spark.catalog.dropTempView(v)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in [int(k) for k in rdds.keySet().toArray()]:
        if rid not in keep:
            rdds.get(rid).unpersist(False)


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@dataclass
class RunResult:
    setup_s: float
    setup_loop_s: float  # the speed probe's median loop time during set-up
    setup_parts: dict
    outcomes: list[Outcome]
    peak_rss_mb: float
    calib_s: float


def measure(spark, workload: Workload, seconds: float, session_s: float,
            setup_probe: host.SpeedProbe, before_timed=None) -> RunResult:
    """Set up, then run timed units for ``seconds`` (at least one).
    ``setup_probe`` has run since before the session started; it stops when
    set-up ends. ``before_timed`` runs between set-up and the first timed
    unit."""
    t0 = time.perf_counter()
    workload.build_inputs()
    build_s = time.perf_counter() - t0
    setup_loop_s = setup_probe.stop()
    keep = _persistent_rdd_ids(spark)  # the inputs
    calib = host.calibration_s(spark)
    if before_timed is not None:
        before_timed()

    outcomes: list[Outcome] = []
    deadline = time.perf_counter() + seconds
    while not outcomes or time.perf_counter() < deadline:
        o = workload.run_unit()
        if workload.tracer is not None:  # only traced runs report the state
            _collect_garbage(spark)
        o.persistent_rdds, o.temp_views = _state_counts(spark)
        _release_new_state(spark, keep)
        outcomes.append(o)
    peak = host.tree_peak_rss_mb()
    workload.check(outcomes)
    return RunResult(
        setup_s=session_s + build_s,
        setup_loop_s=setup_loop_s,
        setup_parts={"session_s": session_s, "build_s": build_s},
        outcomes=outcomes,
        peak_rss_mb=peak,
        calib_s=calib,
    )
