"""Self-test of the benchmark: every workload, untraced and traced.

    python3 perfbench/selftest.py

Checks ``BENCHMARK.json``'s names, units and bounds; that every
workload, untraced and traced, prints a last line with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``, every named metric
with its unit, and passes its output checks (the traced cascade runs two
units, so its per-pass link profiles are compared); and that a directory
holding only ``BENCHMARK.json`` and the benchmark's files makes it fail
fast, without a result line. Takes about eight minutes. It runs the real
inputs: neither workload gets cheaper on smaller ones, as their cost is
per Spark job and per start-up, not per record."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_benchmark_json(spec: dict) -> list[str]:
    errs = []
    want_keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != want_keys:
        errs.append(f"keys {sorted(spec)}")
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    layers = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    names = [w["name"] for w in spec["workloads"]] + [n for n, *_ in e2e] + [n for n, *_ in layers]
    for n in names:
        if not NAME.match(n):
            errs.append(f"bad name {n!r}")
    if len(set(names)) != len(names):
        errs.append("a name is used twice")
    for _, unit, *_ in e2e + layers:
        if not UNIT.match(unit):
            errs.append(f"bad unit {unit!r}")
    if len(spec["per_layer"]) > 128:
        errs.append(f"{len(spec['per_layer'])} per-layer metrics")
    if any(not 0 < b <= 0.25 for *_, b in e2e):
        errs.append("a bound outside (0, 0.25]")
    if ("setup_s", "s", "lower", max(b for *_, b in e2e)) not in e2e:
        errs.append("setup_s must have the largest bound")
    return errs


def run_once(workload: str, trace: int, seconds: int = 1,
             cwd: str = ROOT) -> tuple[int, str, str]:
    """Exit code, last line and the line before it (the context)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines() or [""]
    return p.returncode, lines[-1], lines[-2] if len(lines) > 1 else ""


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = check_benchmark_json(spec)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in run.WORKLOADS:
        for trace, units in ((0, e2e_units), (1, layer_units)):
            # the traced cascade runs two units, so that its check compares
            # their per-pass link profiles
            two_units = w == "pvs_cascade" and trace
            rc, last, context = run_once(w, trace, seconds=100 if two_units else 1)
            tag = f"{w} --trace {trace}"
            n_errs = len(errs)
            try:
                out = json.loads(last)
            except ValueError:
                errs.append(f"{tag}: exit {rc}, last line is not JSON: {last[:200]!r}")
                continue
            if rc != 0 or out.get("correct") is not True:
                errs.append(f"{tag}: exit {rc}, correct={out.get('correct')}")
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                errs.append(f"{tag}: keys {sorted(out)}")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != units:
                errs.append(f"{tag}: metrics differ: missing {sorted(set(units) - set(got))}, "
                            f"extra {sorted(set(got) - set(units))}")
            if trace == 0 and any(v["value"] == 0 for v in out["metrics"].values()):
                errs.append(f"{tag}: an end-to-end metric reads 0")
            if two_units and json.loads(context)["units"] < 2:
                errs.append(f"{tag}: one unit ran, the link profiles were not compared")
            print(f"{tag}: {'ok' if len(errs) == n_errs else 'FAILED'}", flush=True)

    # a directory with only BENCHMARK.json and the benchmark must fail
    bare = os.path.join(ROOT, ".perfbench_selftest")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, last, _ = run_once(run.WORKLOADS[0], 0, cwd=bare)
        if rc == 0 or last.startswith("{"):
            errs.append(f"bare directory: exit {rc}, last line {last[:100]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for e in errs:
        print("FAIL", e)
    print("selftest", "failed" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
