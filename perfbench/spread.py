#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median and
quartile spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload exec_jobs --seeds 1-5 [--seconds 8]

Each run is a separate process, exactly as the benchmark is invoked. The
report is one JSON line per metric plus a summary line with the wall
time of every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]

    values: dict[str, list[float]] = {}
    walls, bad = [], 0
    for seed in seeds_of(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True,
            text=True,
            check=False,
        )
        walls.append(round(time.perf_counter() - t0, 1))
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            bad += 1
            continue
        result = json.loads(lines[-1])
        bad += not result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        print(json.dumps({
            "metric": name,
            "median": med,
            "spread": (q3 - q1) / med if med else 0.0,
            "values": [round(x, 4) for x in xs],
        }))
    print(json.dumps({"workload": args.workload, "runs_s": walls, "bad_runs": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
