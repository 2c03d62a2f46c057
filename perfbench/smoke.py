#!/usr/bin/env python3
"""Test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke.py [workload ...]

Runs each workload once untraced and once traced with --smoke and checks
that the last line of output is a result whose outputs checked, that it
names every metric of BENCHMARK.json with its unit, and that every layer
design.json says the workload exercises has a nonzero wall time. Then
checks that the benchmark refuses to run, without printing a result, in a
directory holding only BENCHMARK.json and perfbench/. Exits 1 on any
failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join("perfbench", "run.py")


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "1", "--seconds", "0",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(workload: str, trace: int, spec: dict, design: dict) -> list[str]:
    p = run(workload, trace)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit code {p.returncode}\n{p.stderr[-3000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
        errors.append(f"{where}: outputs did not check: {res}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            errors.append(f"{where}: metric {m['name']} missing or without unit {m['unit']}: {got}")
    if set(res["metrics"]) != {m["name"] for m in wanted}:
        errors.append(f"{where}: unexpected metrics {set(res['metrics']) - {m['name'] for m in wanted}}")
    if trace:
        for layer, info in design["layers"].items():
            key = f"{layer}.wall_s"
            if workload in info["exercised_by"] and key in res["metrics"] \
                    and not res["metrics"][key]["value"] > 0:
                errors.append(f"{where}: layer {layer} exercised but {key} is 0")
    return errors


def check_bare_dir() -> list[str]:
    """Only BENCHMARK.json and perfbench/: the benchmark must refuse to run."""
    bare = os.path.join(HERE, "_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run("kg_build", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare dir: exit code {p.returncode}, stdout {p.stdout[-500:]!r}"]
    return []


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    workloads = argv or list(design["workloads"])
    errors = check_bare_dir()
    for w in workloads:
        for trace in (0, 1):
            errs = check_result(w, trace, spec, design)
            print(f"{w} --trace {trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
