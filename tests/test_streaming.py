"""Batch ↔ streaming parity: the Structured Streaming jobs replayed with
Trigger.AvailableNow must reproduce the batch event-time operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_google_spark.operators.events import (
    session_window_stats,
    tumbling_window_counts,
)
from mapreduce_google_spark.streaming.jobs import (
    read_events_stream,
    run_available_now,
    session_window_stream,
    tumbling_window_stream,
)


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(tumbling_window_stream(stream), "t15_stream")
    want = tumbling_window_counts(spark, sf_dir)
    assert _rows(got, "bucket_start", "event_type") == _rows(
        want, "bucket_start", "event_type"
    )


def test_session_stream_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(session_window_stream(stream), "t16_stream")
    # streaming emits (user, session_start, n_events); roll up to the batch
    # operator's per-user grain and compare sessions + event counts
    got_user = (
        got.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )
    want = session_window_stats(spark, sf_dir).select(
        "user_id", "n_sessions", "n_events"
    )
    assert _rows(got_user, "user_id") == _rows(want, "user_id")


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    """Custom applyInPandasWithState sessionizer over an availableNow
    replay reproduces the batch gaps-and-islands operator."""
    from mapreduce_google_spark.streaming.stateful import sessionize_stateful

    stream = read_events_stream(spark, sf_dir)
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory")
        .queryName("t16_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode sink: last emitted row per user is the final state
    got_df = spark.sql(
        "SELECT user_id, n_sessions, n_events FROM t16_stateful"
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in got_df.collect()}
    want = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in session_window_stats(spark, sf_dir).collect()
    }
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode tumbling agg with a 1h watermark: a late row whose
    window was already finalized (state evicted in an earlier batch) is
    dropped, and the finalized count is not re-emitted or updated.

    Micro-batch structure matters: eviction happens at the END of the
    batch in which the watermark passes the window end, so the drop
    guarantee only holds one batch later — hence three files with
    controlled mtimes processed one per trigger."""
    import os
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("v", LongType())]
    )
    import datetime as dt

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        # move the single part file into the source dir with a controlled
        # mtime so the file source processes b1 before b2
        part = next(
            p for p in os.listdir(tmp_path / name) if p.startswith("part-")
        )
        dest = src / f"{name}.parquet"
        os.rename(tmp_path / name / part, dest)
        os.utime(dest, (mtime, mtime))

    t = dt.datetime(2024, 1, 1)
    write_file(
        "b1",
        [
            (t.replace(hour=10, minute=5), 1),
            (t.replace(hour=10, minute=40), 1),
            (t.replace(hour=13, minute=0), 1),
        ],
        mtime=_time.time() - 200,
    )
    # advances the watermark to 12:00 (start of this batch), evicting and
    # finalizing the 10:00 window at the end of it
    write_file("b2", [(t.replace(hour=14, minute=0), 1)], mtime=_time.time() - 100)
    # LATE: 10:00 window already evicted -> row must be dropped
    write_file("b3", [(t.replace(hour=10, minute=15), 1)], mtime=_time.time())

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [
        (r.ws, r.n)
        for r in spark.sql("SELECT ws, n FROM late_drop ORDER BY ws").collect()
    ]
    # exactly one finalized 10:00 window with the 2 on-time rows — the late
    # 10:15 row neither updated it nor re-emitted a duplicate window
    assert rows == [("2024-01-01 10:00:00", 2)], rows
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, [p["batchId"] for p in q.recentProgress]


def test_stream_dedup_actually_drops_redeliveries(spark, sf_dir):
    """Guard against a vacuous pass: the doubled source must contain
    2x rows, and the deduped stream exactly 1x."""
    from mapreduce_google_spark.io import load_table
    from mapreduce_google_spark.streaming.jobs import stream_dedup_counts

    n_orig = load_table(spark, sf_dir, "events").count()
    out = stream_dedup_counts(spark, sf_dir)
    total = sum(r.n_events for r in out.collect())
    assert total == n_orig, (total, n_orig)
    # doubled copy really is doubled
    from mapreduce_google_spark.io import derived_dir

    doubled = spark.read.parquet(derived_dir("doubled_events", sf_dir, "events"))
    assert doubled.count() == 2 * n_orig


def test_checkpoint_restart_resumes_without_reprocessing(spark, sf_dir, tmp_path):
    """A restarted query with the same checkpoint must pick up only files
    that arrived after the last committed offset — the recovery contract
    that makes a 100 TB/day ingest survive driver loss with neither
    duplicates nor holes. Run 1 sees half the table; more files land; run
    2 reuses the checkpoint and must emit exactly the remainder."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    half_a = events.where(F.col("event_id") % 2 == 0)
    half_b = events.where(F.col("event_id") % 2 == 1)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = events.schema

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    half_a.write.mode("append").parquet(src)
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == half_a.count()

    half_b.write.mode("append").parquet(src)
    run_once()

    landed = spark.read.parquet(out)
    assert landed.count() == events.count(), "duplicates or holes after restart"
    assert (
        landed.select(F.count_distinct("event_id")).first()[0] == events.count()
    ), "event_ids not exactly-once"


def test_transform_with_state_counts_match_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: per-user ValueState counter
    over an availableNow replay; summed deltas must equal the batch
    per-user counts regardless of micro-batch splits."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf (absent here); "
        "operator is exercised on protobuf-equipped clusters",
    )
    from mapreduce_google_spark.io import cache_tag
    from mapreduce_google_spark.streaming.jobs import (
        _staged_dir,
        run_available_now,
    )
    from mapreduce_google_spark.streaming.stateful import tws_user_event_counts

    tag = cache_tag(sf_dir, "events")
    staged = _staged_dir(spark, sf_dir, "events")
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(staged)
    )
    out = tws_user_event_counts(stream)
    sink = run_available_now(out, f"tws_counts_{tag}", output_mode="append")

    got = {
        r.user_id: r.total
        for r in sink.groupBy("user_id")
        .agg(F.sum("n_delta").alias("total"))
        .collect()
    }
    want = {
        r.user_id: r.cnt
        for r in spark.read.parquet(staged)
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want


def test_stateful_debounce_matches_batch(spark, sf_dir):
    """Custom applyInPandasWithState debounce over an availableNow replay
    reproduces the batch lag-based operator (t131) exactly."""
    from mapreduce_google_spark.operators.events import event_debounce_stats
    from mapreduce_google_spark.streaming.stateful import debounce_stateful

    stream = read_events_stream(spark, sf_dir)
    q = (
        debounce_stateful(stream)
        .writeStream.format("memory")
        .queryName("t131_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode sink may emit a key once per micro-batch; the counts
    # are cumulative (monotone), so the final state is the per-key max
    got = (
        spark.sql(
            """
            SELECT event_type,
                   sum(n_kept) AS n_kept, sum(n_dropped) AS n_dropped
            FROM (
                SELECT user_id, event_type,
                       max(n_kept) AS n_kept, max(n_dropped) AS n_dropped
                FROM t131_stateful
                GROUP BY user_id, event_type
            )
            GROUP BY event_type
            """
        )
        .collect()
    )
    got_map = {r.event_type: (r.n_kept, r.n_dropped) for r in got}
    want = {
        r.event_type: (r.n_kept, r.n_dropped)
        for r in event_debounce_stats(spark, sf_dir).collect()
    }
    assert got_map == want


def test_stream_hourly_anomalies_matches_batch(spark, sf_dir):
    from mapreduce_google_spark.operators.events import hourly_anomalies
    from mapreduce_google_spark.streaming.jobs import stream_hourly_anomalies

    batch = {tuple(r) for r in hourly_anomalies(spark, sf_dir).collect()}
    stream = {tuple(r) for r in stream_hourly_anomalies(spark, sf_dir).collect()}
    assert stream == batch and len(stream) > 0


def test_stream_pricing_summary_matches_batch(spark, sf_dir):
    from mapreduce_google_spark.operators.relational import pricing_summary
    from mapreduce_google_spark.streaming.jobs import stream_pricing_summary

    batch = {tuple(r) for r in pricing_summary(spark, sf_dir).collect()}
    stream = {tuple(r) for r in stream_pricing_summary(spark, sf_dir).collect()}
    assert stream == batch and len(stream) > 0


def test_stream_top_tokens_matches_batch(spark, sf_dir):
    from mapreduce_google_spark.operators.text import top_k_tokens
    from mapreduce_google_spark.streaming.jobs import stream_top_tokens

    batch = [tuple(r) for r in top_k_tokens(spark, sf_dir).collect()]
    stream = [tuple(r) for r in stream_top_tokens(spark, sf_dir).collect()]
    assert stream == batch and len(stream) > 0


def test_stale_prior_run_store_not_resurrected(spark, sf_dir):
    """A prior run killed mid-_swap_store (after store → store_old)
    leaves store_old with a high _BATCH_ID. A fresh run's cleanup must
    sweep it; otherwise _recover_store resurrects it and the batch-id
    skip drops the new run's batches 0..N (fresh checkpoints restart
    ids at 0), merging stale counts into the result."""
    import os

    from mapreduce_google_spark.io import derived_dir
    from mapreduce_google_spark.operators.events import hourly_anomalies
    from mapreduce_google_spark.streaming.jobs import stream_hourly_anomalies

    store = derived_dir("anom_store", sf_dir, "events")
    poison = store + "_old"
    # plant a poisoned previous-run store: bogus rows + batch_id far past
    # anything the fresh run will produce
    spark.createDataFrame(
        [("poisoned", 0, 999999, 9.9)],
        "event_type string, hour int, n long, z double",
    ).write.mode("overwrite").parquet(poison)
    with open(os.path.join(poison, "_BATCH_ID"), "w", encoding="ascii") as fh:
        fh.write("99")

    batch = {tuple(r) for r in hourly_anomalies(spark, sf_dir).collect()}
    stream = {tuple(r) for r in stream_hourly_anomalies(spark, sf_dir).collect()}
    assert stream == batch and len(stream) > 0
    assert not os.path.exists(poison)


def test_merge_store_replay_skip_and_crash_recovery(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed (same batch_id) merge
    must be a no-op, and a crash between the two swap renames must be
    recoverable without losing the prior state."""
    import os

    from mapreduce_google_spark.streaming.jobs import (
        _recover_store,
        _store_last_batch_id,
        _swap_store,
    )

    store = str(tmp_path / "store")
    df1 = spark.createDataFrame([("a", 1)], "k string, n long")
    _swap_store(df1, store, batch_id=0)
    assert _store_last_batch_id(store) == 0
    # replay of batch 0 → the guard condition callers use must skip
    assert 0 <= _store_last_batch_id(store)

    df2 = spark.createDataFrame([("a", 2)], "k string, n long")
    _swap_store(df2, store, batch_id=1)
    assert _store_last_batch_id(store) == 1
    assert spark.read.parquet(store).collect()[0].n == 2
    # _BATCH_ID marker must not break the parquet read
    assert spark.read.parquet(store).count() == 1

    # simulate a crash between rename(store, old) and rename(tmp, store)
    os.rename(store, store + "_old")
    _recover_store(store)
    assert os.path.exists(store)
    assert not os.path.exists(store + "_old")
    assert spark.read.parquet(store).collect()[0].n == 2
    assert _store_last_batch_id(store) == 1


def test_stream_intradoc_repetition_matches_batch(spark, sf_dir):
    from mapreduce_google_spark.operators.textstats import intradoc_repetition
    from mapreduce_google_spark.streaming.jobs import stream_intradoc_repetition

    batch = [tuple(r) for r in intradoc_repetition(spark, sf_dir).collect()]
    stream = [tuple(r) for r in stream_intradoc_repetition(spark, sf_dir).collect()]
    assert stream == batch and len(stream) > 0
