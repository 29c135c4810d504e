"""``exec_jobs``: the reference's job queue, one closed-loop client.

Jobs are reference-style mapper/reducer executables submitted one at a
time through ``cli.run_batch(parallel=1)`` over seed-generated text
directories. Set-up runs one small job of each kind untimed, the first
touch of the exec path: the session's first job takes about 10 s, and
the next few still run slower than later ones. A deck is six small jobs
(8 files of 3 KB, the reference's integration-test size: greps, sorts
and word counts) and two large ones (8 files of 1 MB, 8 MB a job: the
paper's grep and sort) in a fixed order. The timed part runs
:data:`DECKS` decks; the seed draws each job's input directory and
generates the text. The median job sits inside the small ones.
``--seconds`` sets only the length of the traced run's ingest stream.

Every output is checked, untimed, against a pure-Python computation over
the generated corpus, and its part-file count against ``num_reducers``.

A traced run then serves a live ingest stream on the same session
(:func:`perfbench.stream_ingest.ingest`) for ``--seconds``: the only
micro-batch, state and checkpoint work the benchmark runs. Its lags go
to the detail line and its counters to ``streaming.*``.
"""

from __future__ import annotations

import collections
import os
import random
import statistics
import sys
import time

from perfbench import datagen
from perfbench.common import Run, dir_bytes, timing
from perfbench.stream_ingest import ingest

NUM_REDUCERS = 4
SMALL = {"n_files": 8, "file_bytes": 3 * 1024, "needle_lines": 8}
LARGE = {"n_files": 8, "file_bytes": 1024 * 1024, "needle_lines": 16}
N_SMALL_DIRS, N_LARGE_DIRS = 3, 2
KINDS = ("grep", "sort", "wc")
WARMUP = [("wc", "small"), ("grep", "small"), ("sort", "small")]
DECK = [
    ("grep", "small"),
    ("sort", "small"),
    ("wc", "small"),
    ("grep", "large"),
    ("grep", "small"),
    ("sort", "small"),
    ("wc", "small"),
    ("sort", "large"),
]
#: Decks a run times; a fixed count for the reason given at
#: ``query_mix.PASSES``.
DECKS = 2
JOBS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jobs")


def _commands(kind: str) -> tuple[str, str]:
    from mapreduce_google_spark.operators.pipe import ASSETS

    # the executables use only the standard library; -S skips the
    # site-packages scan, which costs more than the script itself here
    py = f"{sys.executable} -S"
    if kind == "grep":
        return (
            f"{py} {os.path.join(JOBS_DIR, 'grep_mapper.py')} {datagen.GREP_NEEDLE}",
            f"{py} {os.path.join(JOBS_DIR, 'identity_reducer.py')}",
        )
    if kind == "sort":
        return (
            f"{py} {os.path.join(JOBS_DIR, 'identity_mapper.py')}",
            f"{py} {os.path.join(JOBS_DIR, 'identity_reducer.py')}",
        )
    return (
        f"{py} {os.path.join(ASSETS, 'wc_mapper.py')}",
        f"{py} {os.path.join(ASSETS, 'wc_reducer.py')}",
    )


def expected_lines(kind: str, input_dir: str) -> collections.Counter:
    """The job's output lines as a multiset, computed in plain Python."""
    out: collections.Counter = collections.Counter()
    for name in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, name)) as fh:
            for line in fh:
                line = line.rstrip("\n")
                if kind == "grep":
                    if datagen.GREP_NEEDLE in line.split():
                        out[f"{line}\t1"] += 1
                elif kind == "sort":
                    key, _, rest = line.partition(" ")
                    out[f"{key}\t{rest}"] += 1
                else:
                    out.update(line.lower().split())
    if kind == "wc":
        out = collections.Counter({f"{t}\t{n}": 1 for t, n in out.items()})
    return out


def check_output(output_dir: str, expected: collections.Counter) -> tuple[str | None, int]:
    """(error or None, number of part files whose keys are out of order)."""
    parts = sorted(f for f in os.listdir(output_dir) if f.startswith("part-"))
    got: collections.Counter = collections.Counter()
    unsorted = 0
    for p in parts:
        with open(os.path.join(output_dir, p)) as fh:
            lines = fh.read().splitlines()
        got.update(lines)
        keys = [ln.partition("\t")[0] for ln in lines]
        unsorted += keys != sorted(keys)
    if len(parts) != NUM_REDUCERS:
        return f"{len(parts)} part files, want {NUM_REDUCERS}", unsorted
    if got != expected:
        missing = sum((expected - got).values())
        extra = sum((got - expected).values())
        return f"output differs: {missing} lines missing, {extra} unexpected", unsorted
    return None, unsorted


def _classify(stages: list[dict]) -> dict[str, list[dict]]:
    """Split an exec job's stages into mapper, reducer and text-sink stages
    by their shuffle pattern: the map stage reads input and writes a
    shuffle, the reduce stage reads and writes one, the sink only reads."""
    out: dict[str, list[dict]] = {"map": [], "reduce": [], "sink": []}
    for st in stages:
        if st["shuffle_write_bytes"] > 0 and st["shuffle_read_bytes"] == 0:
            out["map"].append(st)
        elif st["shuffle_write_bytes"] > 0:
            out["reduce"].append(st)
        else:
            out["sink"].append(st)
    return out


def run_exec_jobs(run: Run, get_spark, spark_conf: dict) -> None:
    from mapreduce_google_spark.cli import run_batch

    tr = run.tracer
    rng = random.Random(run.seed)
    dirs = {"small": [], "large": []}
    for size, spec, n in (("small", SMALL, N_SMALL_DIRS), ("large", LARGE, N_LARGE_DIRS)):
        spec = dict(spec, file_bytes=max(256, int(spec["file_bytes"] * run.scale)))
        for i in range(n):
            d = run.path("input", f"{size}{i}", "")
            datagen.text_corpus(d, run.seed * 100 + len(dirs["small"]) + len(dirs["large"]), **spec)
            dirs[size].append(d)
    commands = {k: _commands(k) for k in KINDS}
    expected: dict = {}
    done: list[tuple[str, str, str]] = []  # (kind, input, output) to check

    def submit(kind: str, input_dir: str, label: str) -> tuple[float, float]:
        output = run.path("output", f"{label}", "")
        mapper, reducer = commands[kind]
        job = {
            "type": "exec",
            "input": input_dir,
            "output": output,
            "mapper": mapper,
            "reducer": reducer,
            "num_reducers": NUM_REDUCERS,
        }
        run.attempted += 1
        t0, o0 = time.perf_counter(), tr.self_s
        with tr.span("cli.run_batch", op=label, kind=kind, input=input_dir):
            status = run_batch(run.spark, [job], parallel=1)[0]
        wall, traced = time.perf_counter() - t0, tr.self_s - o0
        if not status.get("ok"):
            run.fail(f"{label} {kind}: {status.get('error')}")
            return wall, traced
        done.append((kind, input_dir, output))
        return wall, traced

    t0 = time.perf_counter()
    with tr.span("session.get_spark", op="setup"):
        run.spark = get_spark(**spark_conf)
    tr.attach(run.spark)
    t1 = time.perf_counter()
    for n, (kind, size) in enumerate(WARMUP):
        submit(kind, rng.choice(dirs[size]), f"warm-{n}-{kind}-{size}")
    run.setup_samples.append(time.perf_counter() - t0)
    run.setup_trace_s = tr.self_s
    run.layer["session.get_spark_s"] = t1 - t0

    input_bytes = {d: dir_bytes(d) for ds in dirs.values() for d in ds}
    timed: list[tuple[str, str, float]] = []
    start, trace0 = time.perf_counter(), tr.self_s
    for _ in range(DECKS):
        for kind, size in DECK:
            input_dir = rng.choice(dirs[size])
            wall, traced = submit(kind, input_dir, f"{len(timed)}-{kind}-{size}")
            timed.append((kind, size, wall))
            run.latencies.append(wall)
            run.op_trace_s.append(traced)
    measured = time.perf_counter() - start
    run.measured_trace_s = tr.self_s - trace0
    timed_inputs = [j for j in done if not os.path.basename(j[2].rstrip("/")).startswith("warm-")]
    in_bytes = sum(input_bytes[i] for _, i, _ in timed_inputs)

    # correctness, untimed
    unsorted = 0
    out_bytes = 0
    for n, (kind, input_dir, output) in enumerate(done):
        key = (kind, input_dir)
        if key not in expected:
            expected[key] = expected_lines(kind, input_dir)
        want = expected[key]
        if run.inject_error and n == 0:
            want = want + collections.Counter({"corrupted\t1": 1})
        err, bad = check_output(output, want)
        unsorted += bad
        if err:
            run.fail(f"{os.path.basename(output.rstrip('/'))}: {err}")
        if (kind, input_dir, output) in timed_inputs:
            out_bytes += dir_bytes(output)

    run.measured_s = measured
    run.ops_per_s = len(run.latencies) / measured
    run.extra.update(timing("exec_job", run.latencies))
    run.extra["exec_mb_per_s"] = in_bytes / 1e6 / measured
    run.extra["exec_small_p50_s"] = statistics.median(w for _, s, w in timed if s == "small")
    run.extra["exec_large_p50_s"] = statistics.median(w for _, s, w in timed if s == "large")
    run.layer["io.unsorted_part_files"] = unsorted
    run.layer["io.output_bytes_per_input_byte"] = out_bytes / max(1, in_bytes)

    if tr.enabled:
        ingest(run, run.spark)
        spans = [s for s in tr.named("cli.run_batch") if not s.op.startswith("warm-")]
        n = len(spans)
        sums = collections.Counter()
        for sp in spans:
            parts = _classify(sp.stages)
            sums["map"] += sum(st["wall_s"] for st in parts["map"])
            sums["reduce"] += sum(st["wall_s"] for st in parts["reduce"])
            sums["sink"] += sum(st["wall_s"] for st in parts["sink"])
            sums["procs"] += sum(st["tasks"] for st in parts["map"] + parts["reduce"])
            sums["overhead"] += max(0.0, sp.wall - sum(st["wall_s"] for st in sp.stages))
        run.layer["pipe.map_stage_s"] = sums["map"] / n
        run.layer["pipe.reduce_stage_s"] = sums["reduce"] / n
        run.layer["io.text_sink_stage_s"] = sums["sink"] / n
        run.layer["pipe.subprocesses"] = sums["procs"] / n
        run.layer["cli.driver_overhead_s"] = sums["overhead"] / n
        run.layer["_op_spans"] = spans
