"""Span tracer for the benchmark's traced run.

``Tracer.install`` wraps the public functions listed in ``LAYERS``. The
wrappers and the py4j counter act only inside ``Tracer.window()``: the
benchmark opens a window around the program's work and keeps its own
checks (oracles, result collects, state reads) outside. Inside a window
each call becomes a span with a layer name, a label, start and end times
and a parent span. While the call runs, its thread carries a Spark job group of
the span's own, so every job the call starts is attributed to it. When the
call returns, the tracer reads the stage metrics of that group's jobs from
Spark's in-process status store, before its retention limit can evict them.

py4j round trips are counted by wrapping the gateway client's
``send_command``. The tracer's own status-store reads and job-group
switches run with the counter paused, so they do not inflate the counts.
py4j counts still drift by a fraction of a percent between identical runs
(proxy garbage collection sends detach commands): compare them as
near-counts.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

import py4j.clientserver as py4j_cs
from py4j.protocol import Py4JJavaError

import host

PKG = "person_linkage_case_study_spark"

# layer name -> the public functions whose calls are that layer's spans
LAYERS: dict[str, list[str]] = {
    "plans.preprocess": [
        "plans.preprocess.preprocess_census",
        "plans.preprocess.preprocess_reference_file",
    ],
    "operators.estimation": [
        "operators.estimation.estimate_u",
        "operators.estimation.estimate_m_two_sessions",
        "operators.estimation.probability_two_random_records_match",
    ],
    "plans.cascade.pass": ["plans.cascade.PersonLinkageCascade.run_matching_pass"],
    "plans.cascade.confirm": ["plans.cascade.PersonLinkageCascade.confirm_piks"],
    "plans.hhcomp": ["plans.hhcomp.build_hhcomp_reference_file"],
    "plans.cascade.attach": ["plans.cascade.PersonLinkageCascade.attach_piks"],
    "operators.blocking": [
        "operators.blocking.blocked_pairs",
        "operators.blocking.estimate_pair_stats",
    ],
    "operators.scoring": ["operators.scoring.score_pairs"],
    "streaming.incremental_linkage": [
        "streaming.incremental_linkage.run_incremental_linkage",
    ],
    "dedup.exact": ["dedup.exact.exact_dedup"],
    "dedup.pipeline": ["dedup.pipeline.near_dup_pairs_collapsed"],
    "dedup.cluster": ["dedup.cluster.connected_components"],
    "similarity.semdedup": ["similarity.semdedup.semantic_dedup"],
}

STAT_KEYS = ("calls", "wall_s", "self_s", "py4j", "jobs", "tasks",
             "failed_tasks", "exec_cpu_s", "shuffle_write_mb")

_GROUP_PROP = "spark.jobGroup.id"


class Py4jCounter:
    """Counts driver→JVM round trips sent through the py4j gateway while
    ``on`` (from any thread: a streaming query calls back into Python on
    threads of its own)."""

    def __init__(self) -> None:
        self.n = 0
        self.on = False
        self._paused = threading.local()
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        orig = py4j_cs.ClientServerConnection.send_command
        counter = self

        def counted(conn, command):
            if counter.on and not getattr(counter._paused, "on", False):
                with counter._lock:
                    counter.n += 1
            return orig(conn, command)

        self._orig = orig
        py4j_cs.ClientServerConnection.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j_cs.ClientServerConnection.send_command = self._orig
            self._orig = None

    @contextlib.contextmanager
    def paused(self):
        """Sends from this thread inside the block are not counted."""
        prev = getattr(self._paused, "on", False)
        self._paused.on = True
        try:
            yield
        finally:
            self._paused.on = prev


@dataclass
class Span:
    id: int
    layer: str
    label: str
    parent: int | None
    start: float
    call: bool = True
    end: float = 0.0
    py4j: int = 0  # inclusive of child spans
    jobs: int = 0  # this span's own jobs (children's are theirs)
    tasks: int = 0
    failed_tasks: int = 0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    attrs: dict = field(default_factory=dict)
    # further job groups whose jobs belong to this span (a streaming
    # query's micro-batches run under the query's run id)
    groups: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.py4j = Py4jCounter()
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []
        self._run_tag = f"trace-{int(time.time() * 1000)}"
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.window_s = 0.0  # wall of the windows, which hold every span
        self.window_cpu_s = dict.fromkeys(("driver", "jvm", "workers"), 0.0)
        self._lock = threading.Lock()
        with self.py4j.paused():
            self._store = self.sc._jsc.sc().statusStore()

    # -- wrapping -------------------------------------------------------

    def install(self) -> None:
        self.py4j.install()
        for layer, targets in LAYERS.items():
            for target in targets:
                self._wrap(layer, target)

    @contextlib.contextmanager
    def window(self):
        """Trace the program's work inside the block: its calls become
        spans and its py4j sends are counted."""
        cpu0 = host.tree_cpu_by_kind()
        t0 = time.perf_counter()
        self.py4j.on = True
        try:
            yield
        finally:
            self.py4j.on = False
            self.window_s += time.perf_counter() - t0
            for kind, cpu in host.tree_cpu_by_kind().items():
                self.window_cpu_s[kind] += cpu - cpu0[kind]

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()
        self.py4j.uninstall()

    def _wrap(self, layer: str, target: str) -> None:
        parts = target.split(".")
        # longest importable module prefix, then attribute path
        for cut in range(len(parts), 0, -1):
            try:
                module = importlib.import_module(f"{PKG}." + ".".join(parts[:cut]))
                break
            except ImportError:
                continue
        attrs = parts[cut:]
        owner = module
        for a in attrs[:-1]:
            owner = getattr(owner, a)
        name = attrs[-1]
        orig = getattr(owner, name)
        label_of = _LABELS.get(target)
        after = _AFTER.get(target)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.py4j.on:
                return orig(*args, **kwargs)
            label = label_of(*args, **kwargs) if label_of else name
            with tracer.span(layer, label) as span:
                out = orig(*args, **kwargs)
                if after:
                    after(span, out, *args, **kwargs)
                return out

        self._patched.append((owner, name, orig))
        setattr(owner, name, traced)
        if owner is module:
            # modules that imported the function by name call their own
            # binding; rebind those too
            for mname, m in list(sys.modules.items()):
                if mname.startswith(PKG) and m is not module and getattr(m, name, None) is orig:
                    self._patched.append((m, name, orig))
                    setattr(m, name, traced)

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    def _parent(self) -> int | None:
        """The innermost open span of this thread; in a thread with none
        (a streaming query's foreachBatch callback, a concurrent job
        thread), the innermost open span of the thread that made the
        tracer, which is waiting on this work."""
        stack = self._stack() or self._stacks.get(self._main, [])
        return stack[-1].id if stack else None

    @contextlib.contextmanager
    def span(self, layer: str, label: str, call: bool = True):
        """One span, yielded while open. ``call=False`` marks a span the
        benchmark opens itself (e.g. around the action that executes a
        lazy result); it is not counted as a call."""
        t0 = time.perf_counter()
        span = Span(id=next(self._ids), layer=layer, label=label,
                    parent=self._parent(), start=0.0, call=call)
        group = f"{self._run_tag}-{span.id}"
        with self.py4j.paused():
            prev_group = self.sc.getLocalProperty(_GROUP_PROP)
            self.sc.setLocalProperty(_GROUP_PROP, group)
        stack = self._stack()
        stack.append(span)
        py4j0 = self.py4j.n
        span.start = time.perf_counter()
        self._add_overhead(span.start - t0)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.py4j = self.py4j.n - py4j0
            stack.pop()
            with self.py4j.paused():
                self.sc.setLocalProperty(_GROUP_PROP, prev_group)
                for g in (group, *span.groups):
                    self._read_group(span, g)
            self.spans.append(span)
            self._add_overhead(time.perf_counter() - span.end)

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def _read_group(self, span: Span, group: str) -> None:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        span.jobs += len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            ids = str(self._store.job(jid).stageIds().mkString(","))
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted, or never submitted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                span.tasks += st.numTasks()
                span.failed_tasks += st.numFailedTasks()
                span.exec_cpu_s += st.executorCpuTime() / 1e9
                span.shuffle_write_mb += st.shuffleWriteBytes() / 1e6

    # -- aggregation ----------------------------------------------------

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per layer: calls, wall (outermost spans of the layer only, so
        a layer calling itself is not counted twice), self time (minus
        child spans), py4j (self), and the executor figures of its own
        job groups."""
        by_id = {s.id: s for s in self.spans}
        child_wall: dict[int, float] = {}
        child_py4j: dict[int, int] = {}
        for s in self.spans:
            if s.parent is not None:
                child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall_s
                child_py4j[s.parent] = child_py4j.get(s.parent, 0) + s.py4j
        table = {layer: dict.fromkeys(STAT_KEYS, 0) for layer in LAYERS}
        for s in self.spans:
            row = table.setdefault(s.layer, dict.fromkeys(STAT_KEYS, 0))
            row["calls"] += s.call
            if not _has_ancestor_in_layer(s, by_id):
                row["wall_s"] += s.wall_s
            row["self_s"] += s.wall_s - child_wall.get(s.id, 0.0)
            row["py4j"] += s.py4j - child_py4j.get(s.id, 0)
            for k in ("jobs", "tasks", "failed_tasks", "exec_cpu_s", "shuffle_write_mb"):
                row[k] += getattr(s, k)
        return table


def _has_ancestor_in_layer(span: Span, by_id: dict[int, Span]) -> bool:
    p = span.parent
    while p is not None and p in by_id:
        if by_id[p].layer == span.layer:
            return True
        p = by_id[p].parent
    return False


# labels and post-call attributes of particular functions

def _pass_label(cascade, pass_cfg, *a, **k) -> str:
    return f"{cascade._module.name}/{pass_cfg.name}"


def _pass_after(span, out, cascade, *a, **k) -> None:
    # the cascade runs without statistics, as in timed runs: keep the
    # pass's state frames (checkpointed, so cheap to count) for the
    # benchmark to count once the window closes
    span.attrs["state"] = (cascade._provisional_links, cascade._census_to_match)


def _estimate_after(span, out, *a, **k) -> None:
    span.attrs["pairs"] = out.pairs


def _confirm_label(cascade, *a, **k) -> str:
    return cascade._module.name


_LABELS = {
    "plans.cascade.PersonLinkageCascade.run_matching_pass": _pass_label,
    "plans.cascade.PersonLinkageCascade.confirm_piks": _confirm_label,
}
_AFTER = {
    "plans.cascade.PersonLinkageCascade.run_matching_pass": _pass_after,
    "operators.blocking.estimate_pair_stats": _estimate_after,
}
