"""Micro-batch ingest under an open-loop file feed.

A generator thread publishes pre-generated parquet event files into a
watched directory by atomic rename at a fixed rate, whatever the engine's
progress. One streaming query built from the public function
``streaming.jobs.session_window_stream`` appends closed sessions to a
parquet file sink. Redelivered duplicates are counted like any event:
``dedup_stream`` cannot feed it, because both define a watermark.

Lag of a file is the time from its scheduled publish time to the commit
of the micro-batch that first contains it, read from the query's
checkpoint (source log and commit log). After the last timed file one
far-future event advances the watermark so every session closes; the
sink must then equal a batch sessionization of the generated events.

:func:`ingest` runs as the tail phase of a traced ``exec_jobs`` run,
which reports its lags on the detail line and its layer counters under
``streaming.*``. It is not a workload of its own because its lag depends
on host load far more than the other workloads' latencies (see
README.md).
"""

from __future__ import annotations

import collections
import glob
import json
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import Run, timing

#: Publish rate in files per second, and the size of each file. A
#: micro-batch takes 0.3-0.5 s on a quiet 4-core host, so batches run back
#: to back with a few files each and no backlog grows.
RATE_FILES_PER_S = 4.0
EVENTS_PER_FILE = 500
N_USERS = 400
DUP_SHARE = 0.05
FILE_SPAN_S = 60  # event time covered by one file
MAX_DISORDER_S = 600  # inside the 1 h session watermark
GAP_S = 30 * 60  # session_window_stream's default gap
SETUP_FILES = 2  # files processed before timing starts (first batches)
DRAIN_TIMEOUT_S = 90.0


def _batches(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(file name -> first batch id holding it, batch id -> commit time)."""
    first: dict[str, int] = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(f).split(".")[0].isdigit():
            continue  # temporary files of an in-flight log write
        with open(f) as fh:  # compacted logs hold many batches' entries
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                path = os.path.basename(entry["path"])
                first[path] = min(first.get(path, 1 << 60), entry["batchId"])
    commits = {}
    for f in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(f)
        if name.isdigit():
            commits[int(name)] = os.stat(f).st_mtime
    return first, commits


def expected_sessions(paths: list[str]) -> collections.Counter:
    """Batch sessionization of the generated events: per user, a new
    session starts where the gap to the previous event reaches the session
    gap. Rows are ``(user_id, session_start, n_events)``."""
    by_user: dict[int, list] = collections.defaultdict(list)
    for p in paths:
        t = pq.read_table(p, columns=["user_id", "ts"]).to_pydict()
        for uid, ts in zip(t["user_id"], t["ts"]):
            if uid >= 0:
                by_user[uid].append(ts)
    out: collections.Counter = collections.Counter()
    for uid, tss in by_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 0
        for ts in tss:
            if (ts - last).total_seconds() >= GAP_S:
                out[(uid, start.strftime("%Y-%m-%d %H:%M:%S"), n)] += 1
                start, n = ts, 0
            last, n = ts, n + 1
        out[(uid, start.strftime("%Y-%m-%d %H:%M:%S"), n)] += 1
    return out


def _sink_rows(sink: str) -> collections.Counter:
    """Rows of the files the sink has committed (its ``_spark_metadata``
    log), so a file still being written is never read."""
    files = set()
    for f in glob.glob(os.path.join(sink, "_spark_metadata", "*")):
        if os.path.basename(f).split(".")[0].isdigit():
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    if entry.get("action", "add") == "add":
                        files.add(os.path.join(sink, os.path.basename(entry["path"])))
    rows: collections.Counter = collections.Counter()
    for f in files:
        t = pq.read_table(f).to_pydict()
        rows.update(zip(t["user_id"], t["session_start"], t["n_events"]))
    return rows


def _progress_layer(run: Run, query, first_timed_batch: int) -> None:
    progs = [json.loads(p.json) for p in query.recentProgress]
    progs = [p for p in progs if p["batchId"] >= first_timed_batch]
    data = [p for p in progs if p.get("numInputRows", 0) > 0]
    for key, metric in (
        ("triggerExecution", "trigger_ms"),
        ("addBatch", "add_batch_ms"),
        ("latestOffset", "latest_offset_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("walCommit", "wal_commit_ms"),
    ):
        xs = [p["durationMs"].get(key, 0) for p in data]
        run.layer[f"streaming.{metric}"] = statistics.median(xs) if xs else 0.0
    ops = [p.get("stateOperators", []) for p in progs]
    run.layer["streaming.state_rows"] = max(
        (sum(o["numRowsTotal"] for o in op) for op in ops), default=0
    )
    run.layer["streaming.state_memory_bytes"] = max(
        (sum(o["memoryUsedBytes"] for o in op) for op in ops), default=0
    )
    run.layer["streaming.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for op in ops for o in op
    )


def ingest(run: Run, spark) -> None:
    """Feed ``run.seconds`` of files to a new streaming query on ``spark``
    and check its sink. Counts every file and the sink as operations of
    ``run``, fills the ``streaming.*`` layer metrics and puts the lag
    summary on ``run.extra``."""
    from mapreduce_google_spark.streaming.jobs import session_window_stream

    tr = run.tracer
    n_timed = max(1, int(round(RATE_FILES_PER_S * run.seconds)))
    n_files = SETUP_FILES + n_timed
    staged = run.path("stream", "staged", "")
    watched = run.path("stream", "watched", "")
    sink, ckpt = run.path("stream", "sink"), run.path("stream", "ckpt")
    paths = datagen.event_files(
        staged,
        run.seed,
        n_files,
        max(10, int(EVENTS_PER_FILE * run.scale)),
        N_USERS,
        DUP_SHARE,
        FILE_SPAN_S,
        MAX_DISORDER_S,
    )
    flush = datagen.flush_file(
        staged, "events-zflush.parquet", (n_files + 48) * FILE_SPAN_S + 86400
    )
    expected = expected_sessions(paths)

    def publish(p: str) -> None:
        os.rename(p, os.path.join(watched, os.path.basename(p)))

    def committed(names: list[str]) -> bool:
        first, commits = _batches(ckpt)
        return all(n in first and first[n] in commits for n in names)

    def wait_for(names: list[str], timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if committed(names):
                return True
            if not query.isActive:
                raise RuntimeError(f"streaming query stopped: {query.exception()}")
            time.sleep(0.05)
        return False

    schema = spark.read.parquet(paths[0]).schema
    events = spark.readStream.schema(schema).parquet(watched)
    query = (
        session_window_stream(events)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start(sink)
    )
    try:
        setup_names = [os.path.basename(p) for p in paths[:SETUP_FILES]]
        for p in paths[:SETUP_FILES]:
            publish(p)
        if not wait_for(setup_names, DRAIN_TIMEOUT_S):
            raise RuntimeError("set-up files were never committed")
        first_timed_batch = max(_batches(ckpt)[1]) + 1

        timed = paths[SETUP_FILES:]
        scheduled: dict[str, float] = {}
        late: list[float] = []
        start_wall = time.time() + 0.05

        def generator() -> None:
            for i, p in enumerate(timed):
                due = start_wall + i / RATE_FILES_PER_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                publish(p)
                scheduled[os.path.basename(p)] = due
                late.append(max(0.0, time.time() - due))

        gen = threading.Thread(target=generator, name="perfbench-generator")
        with tr.span("stream.window", op="timed"):
            gen.start()
            gen.join()
            ok = wait_for([os.path.basename(p) for p in timed], DRAIN_TIMEOUT_S)
        if not ok:
            run.fail("timed files were not all committed")
        publish(flush)
        # the flush event's batch raises the watermark; the batch after it
        # emits every remaining session
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline:
            if sum(_sink_rows(sink).values()) >= sum(expected.values()):
                break
            time.sleep(0.1)
        time.sleep(0.2)
        _progress_layer(run, query, first_timed_batch)
    finally:
        query.stop()

    first, commits = _batches(ckpt)
    lags = []
    per_batch: collections.Counter = collections.Counter()
    for name, due in scheduled.items():
        run.attempted += 1
        b = first.get(name)
        if b is None or b not in commits:
            run.fail(f"{name} never committed")
            continue
        lags.append(commits[b] - due)
        per_batch[b] += 1
    run.attempted += 1  # the session result as a whole
    got = _sink_rows(sink)
    if run.inject_error:
        got[(-2, "corrupted", 1)] += 1
    if got != expected:
        run.fail(
            f"sink differs from batch sessions: {sum((expected - got).values())} missing, "
            f"{sum((got - expected).values())} unexpected"
        )
    run.extra.update(timing("stream_lag", lags))
    run.extra["stream_files"] = len(scheduled)
    # files waiting when a micro-batch started: the most one batch took
    run.layer["streaming.backlog_files_max"] = max(per_batch.values(), default=0)
    run.layer["streaming.generator_late_s"] = max(late, default=0.0)
