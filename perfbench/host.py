"""Host-side readings: process-tree CPU and memory, the calibration probe and
the speed probe.

The process tree is this Python driver, the Spark JVM it launched and the
Python workers the JVM forks. CPU of exited processes is included through
their parents' ``cutime``/``cstime`` once reaped.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


# the speed probe's process: the benchmark's own, not the program's
_NOT_PROGRAM: set[int] = set()


def process_tree() -> list[int]:
    """This process and all its descendants (the speed probe excluded)."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in _NOT_PROGRAM:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_by_kind() -> dict[str, float]:
    """User+system CPU seconds of the live tree plus its reaped children,
    split into this Python driver, the JVM (task threads, but also query
    planning, JIT compilation and GC) and the Python workers the JVM
    forks (UDF evaluation)."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    me = os.getpid()
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        kind = "driver" if pid == me else "jvm" if comm == "java" else "workers"
        fields = stat[stat.rindex(")") + 2:].split()
        # utime stime cutime cstime are fields 14-17 (1-based) of stat
        out[kind] += sum(int(x) for x in fields[11:15]) / _TICK
    return out


def tree_cpu_s() -> float:
    return sum(tree_cpu_by_kind().values())


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak RSS (VmHWM)."""
    return sum(_status_kb(pid, "VmHWM:") for pid in process_tree()) / 1024.0


def calibration_s(spark, rows: int = 20_000_000) -> float:
    """A fixed scan+aggregate whose work never changes: its wall time
    reads the host's speed, not the program's. Median of three."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(rows).selectExpr("sum(id % 7)", "count(1)").collect()
        walls.append(time.perf_counter() - t0)
    return sorted(walls)[1]


# The speed probe: a fixed pure-Python loop timed in CPU seconds (time
# spent waiting for a core is not counted), then a quarter-second pause:
# about a tenth of one core. It exits with its parent.
_PROBE = """
import os, time
def loop():
    s = 0
    for i in range(300_000):
        s += i * i % 7
parent = os.getppid()
while os.getppid() == parent:
    c = time.process_time()
    loop()
    print(time.process_time() - c, flush=True)
    time.sleep(0.25)
"""

# The probe's median loop time on the host the bounds were set on (a
# 4-core Xeon VM) in a quiet period. Scaled times read as if the host had
# run at this speed.
REFERENCE_LOOP_S = 0.030
# How much of the loop's change in speed a unit's time is taken to follow.
# Neither workload follows all of it (on pvs_cascade a 44% slower loop came
# with a 33% slower unit), and over-correcting adds the probe's own noise:
# in three sets of five to ten runs per workload, scaling dedup_corpus by
# the loop's full ratio left it noisier within a set than not scaling at
# all (0.12 against 0.09 of the median), while the ratio's square root gave
# the lowest spread of the three in two of the sets and cut the drift of
# its median between sets from 32% to 11%.
ELASTICITY = 0.5


class SpeedProbe:
    """How fast the host's cores ran while the program ran: the median
    CPU time of a fixed loop that a separate process repeats from
    ``start()`` to ``stop()``.

    The host is a VM whose cores share physical cores with other guests,
    and their load changes the speed of every instruction, the probe's and
    the program's alike: over one five-run set a unit's wall time and the
    probe's loop time both rose by about a third, with correlation 0.96.
    The probe is the benchmark's own process, left out of the process tree.
    """

    def __init__(self):
        self._proc = None
        self.loop_s = None

    def start(self) -> SpeedProbe:
        self._proc = subprocess.Popen(
            [sys.executable, "-c", _PROBE], stdout=subprocess.PIPE, text=True)
        _NOT_PROGRAM.add(self._proc.pid)
        return self

    def stop(self) -> float:
        """End the probe and wait for it (once); the median loop time."""
        if self._proc is not None:
            proc, self._proc = self._proc, None
            proc.terminate()
            out, _ = proc.communicate()
            _NOT_PROGRAM.discard(proc.pid)
            # complete lines only, and not the first loop, which runs cold
            xs = sorted(float(x) for x in out.split("\n")[1:-1])
            if not xs:
                raise RuntimeError("the speed probe gave no samples")
            self.loop_s = xs[len(xs) // 2]
        return self.loop_s


def at_reference(seconds: float, loop_s: float) -> float:
    """``seconds`` measured while the probe's loop took ``loop_s``, scaled
    to the reference speed."""
    return seconds * (REFERENCE_LOOP_S / loop_s) ** ELASTICITY
