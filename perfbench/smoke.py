"""Toy-size smoke run of the benchmark: tiny crawl worlds and sf0.001
tables, one second of measurement per workload, untraced and traced.
Checks the output schema, that every metric in BENCHMARK.json is reported
with its unit, that BENCHMARK.json agrees with the registry in
``metrics.py``, and that every output check passed.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from run import WORKLOADS  # noqa: E402


def check_registry(bench: dict) -> list[str]:
    errs = []
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    if e2e != END_TO_END:
        errs.append(f"end_to_end differs from metrics.END_TO_END: {e2e}")
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    want = {k: (v["unit"], v["better"]) for k, v in PER_LAYER.items()}
    if layers != want:
        errs.append(f"per_layer differs from metrics.PER_LAYER: {set(layers) ^ set(want)}")
    if not {w["name"] for w in bench["workloads"]} <= set(WORKLOADS):
        errs.append("BENCHMARK.json names a workload run.py does not have")
    return errs


def check_run(workload: str, trace: int, bench: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    print("\n".join(lines[:-1]))
    out = json.loads(lines[-1])
    errs = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: keys {sorted(out)}")
    if out.get("correct") is not True or out.get("failed") != 0:
        errs.append(f"{tag}: correct={out.get('correct')} failed={out.get('failed')}")
    if not isinstance(out.get("attempted"), int) or out["attempted"] < 1:
        errs.append(f"{tag}: attempted={out.get('attempted')}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
    if got != want:
        errs.append(f"{tag}: metric names/units differ: {set(got.items()) ^ set(want.items())}")
    for k, v in out.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)) or (not trace and v["value"] <= 0):
            errs.append(f"{tag}: {k}={v.get('value')}")
    if trace and workload.startswith("crawl"):
        frac = out["metrics"]["frontier.phase_busy_frac"]["value"]
        if frac < 0.9:
            errs.append(f"{tag}: only {frac:.1%} of task-busy time attributed to a phase")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errs = check_registry(bench)
    for workload in WORKLOADS:
        for trace in (0, 1):
            errs += check_run(workload, trace, bench)
    for e in errs:
        print("SMOKE FAIL", e)
    print("smoke: ok" if not errs else f"smoke: {len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
