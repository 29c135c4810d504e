#!/usr/bin/env python3
"""Self-test of the benchmark: a minimal-size smoke of every workload.

    python3 perfbench/selftest.py

For each workload it runs ``run.py`` untraced and traced on small inputs
(the traced ``exec_jobs`` run includes the ingest stream) and asserts
that the last stdout line carries exactly the metrics of
``BENCHMARK.json`` with their units, that every operation succeeded, and
that a run told to corrupt one checked result counts it as failed.
Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOADS  # noqa: E402

SMOKE = ["--seconds", "1", "--scale", "0.2"]


def run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--trace", str(trace), *SMOKE, *extra],
        capture_output=True,
        text=True,
        check=False,
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{label}: metrics {sorted(set(got) ^ set(want))} differ")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{label}: {k} is not a number")


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in WORKLOADS:
        plain = run(w, 0)
        check_metrics(plain, bench["end_to_end"], f"{w} untraced")
        if not plain["correct"] or plain["failed"] or plain["attempted"] < 1:
            raise AssertionError(f"{w}: untraced run reported failures: {plain}")
        if any(v["value"] <= 0 for v in plain["metrics"].values()):
            raise AssertionError(f"{w}: an end-to-end metric is not positive")
        traced = run(w, 1)
        check_metrics(traced, bench["per_layer"], f"{w} traced")
        if not traced["correct"] or traced["failed"]:
            raise AssertionError(f"{w}: traced run reported failures: {traced}")
        if traced["metrics"]["operators.stages"]["value"] <= 0:
            raise AssertionError(f"{w}: no Spark stage was attributed to an operation")
        wrong = run(w, 0, "--inject-error")
        if wrong["correct"] or wrong["failed"] < 1:
            raise AssertionError(f"{w}: a corrupted result was not counted: {wrong}")
        print(f"{w}: ok ({plain['attempted']} operations)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
