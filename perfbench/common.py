"""Run context, statistics and result hashing shared by the workloads."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics
from dataclasses import dataclass, field

import numpy as np

from perfbench.trace import Tracer


@dataclass
class Run:
    """One benchmark run: its arguments, private directories and outcome."""

    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    work: str  # private scratch directory of this run, inside the checkout
    scale: float = 1.0  # input size factor; below 1 only in the self-test
    inject_error: bool = False  # self-test: corrupt one checked output
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    setup_samples: list[float] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    ops_per_s: float = 0.0
    measured_s: float = 0.0  # timed wall behind ops_per_s
    # time the tracer spent inside each timed interval: set-up, each
    # latency sample (parallel to latencies) and the timed wall
    setup_trace_s: float = 0.0
    op_trace_s: list[float] = field(default_factory=list)
    measured_trace_s: float = 0.0
    extra: dict = field(default_factory=dict)  # named workload metrics
    layer: dict = field(default_factory=dict)  # per-layer metrics
    spark: object = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what[:300])


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; the minimum sample count for a tail is 11.
    With fewer samples the median is returned with percentile 50."""
    n = len(samples)
    if n < 11:
        return statistics.median(samples), 50.0
    s = sorted(samples)
    rank = n - 11  # ten samples lie above index n-11
    return s[rank], round(100.0 * (rank + 1) / n, 1)


def timing(name: str, samples: list[float]) -> dict:
    """Median and tail of a latency sample, with percentile and count."""
    t, pct = tail(samples)
    return {
        f"{name}_p50_s": statistics.median(samples),
        f"{name}_tail_s": t,
        f"{name}_tail_pct": pct,
        f"{name}_n": len(samples),
    }


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _norm(v) -> str:
    """One cell as text, equal across pandas-from-Spark and DuckDB."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (decimal.Decimal, float, np.floating, int, np.integer)):
        f = float(v)
        if math.isnan(f):
            return "null"
        f = round(f, 6)
        return str(int(f)) if f == int(f) else f"{f:.6f}"
    if isinstance(v, (dt.datetime, dt.date)):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def frame_hash(pdf) -> tuple[int, str]:
    """(rows, hash) of a pandas frame, insensitive to row and column order;
    floats compare rounded to 6 decimals."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "|".join(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("|".join(cols).encode())
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()[:16]
