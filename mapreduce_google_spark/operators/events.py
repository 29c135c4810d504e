"""Event-time operators over the ``events`` table — batch semantics that
are 1:1 replayable as Structured Streaming jobs (see
:mod:`mapreduce_google_spark.streaming.jobs`, which runs the same logic
with ``readStream`` + watermark + ``availableNow`` and asserts parity).

The reference has no streaming at all (SURVEY.md §2c); these are the
batch-verifiable halves of the streaming surface. Window buckets are
emitted as formatted UTC strings so Spark and DuckDB stringify
identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_google_spark.functions.numeric import dsum, money
from mapreduce_google_spark.io import load_table

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 — events per 1-hour event-time bucket per event_type.

    ``date_trunc`` + hash-agg: one shuffle on (bucket, type). In streaming
    form this is ``F.window(ts, '1 hour')`` with a watermark; the batch
    bucket function is chosen to match window-start exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), TS_FMT).alias(
                "bucket_start"
            ),
            F.col("event_type"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            dsum(money("value")).alias("sum_value"),
        )
        .orderBy("bucket_start", "event_type")
    )


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15b — 1-hour windows sliding every 30 minutes.

    Uses Spark's native ``F.window(ts, '1 hour', '30 minutes')`` (each
    event lands in exactly two windows). The oracle reproduces the window
    assignment arithmetically, which pins Spark's window-start alignment
    semantics rather than trusting them.
    """
    ev = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            dsum(money("value")).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def session_window_stats(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """T16 — sessionization: per-user sessions with a 30-minute gap.

    Classic gaps-and-islands: lag over (user, ts) marks session starts, a
    running sum numbers sessions, then two aggregations roll up to
    (user, session) and user level. Two shuffles, both on user_id — Spark
    reuses the partitioning between the window and the groupBy.

    The streaming equivalent is ``F.session_window(ts, gap)``; this batch
    formulation is oracle-checkable SQL with identical semantics.

    Spark's native ``session_window`` aggregation produced the same
    rows and measured a dead heat (sf0.1: 0.821 s islands vs 0.786 s
    native; sf1: 3.619 s vs 3.617 s, r14 medians): both plans shuffle
    once on user_id and scale n·log n in the per-user sort, so this
    oracle-transparent form is the one kept. The native operator's
    boundary semantics are pinned by
    ``tests/test_property_fuzz.py::test_session_window_boundary_fuzz``
    and the streaming session tests.

    Events come from the user_id-bucketed :func:`io.bucketed_fact_table`
    copy, so the session window's partitionBy(user_id) — and both
    rollup groupBys after it — consume bucket co-location instead of
    exchanging the event stream. Measured against the raw scan at BOTH
    tiers (r13 medians): sf0.1 0.91→0.58 s, sf1 4.31→0.97 s (−78%: at
    10× data the exchange IS the cost), so unlike t11/t33 no size
    dispatch is needed — the store wins everywhere (plan-gated in
    tests/test_plans.py).
    """
    from mapreduce_google_spark.io import bucketed_fact_table

    ev = spark.table(bucketed_fact_table(spark, sf_dir, "events", "user_id"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    # microsecond precision on both engine and oracle side — second-level
    # truncation would disagree with the oracle at exact-gap boundaries
    sessions = (
        ev.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .select(
            "user_id",
            "event_id",
            "ts_us",
            F.coalesce(
                (F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us, F.lit(True)
            )
            .cast("int")
            .alias("is_start"),
        )
        .select(
            "user_id",
            "ts_us",
            F.sum("is_start")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("session_id"),
        )
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("duration_us").cast("long").alias("max_session_us"),
        )
        .orderBy("user_id")
    )


def trailing_week_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T68 — trailing-7-day distinct active users per day.

    Sliding COUNT DISTINCT is the op window functions can't express
    (distinct isn't decomposable over overlapping frames). The scalable
    exact formulation: collapse events to (day, user) grain FIRST (the
    big shrink — event-grain never fans out), then each active day
    contributes its user to the 7 trailing windows it falls in via a
    7-row explode, and one hash-agg counts distinct users per window
    day. Shuffle volume is O(active-days × 7), independent of events per
    day. The approximate cousin at extreme scale is a per-day HLL sketch
    merged over the window (t39's sketch family); this exact form is the
    oracle-checkable baseline.
    """
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    exploded = user_days.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("win_day"),
        "user_id",
    )
    return (
        exploded.groupBy("win_day")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active_7d"))
        .select(F.date_format("win_day", "yyyy-MM-dd").alias("day"), "n_active_7d")
        .orderBy("day")
    )


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T75 — ordered conversion funnel: view → click → purchase, each
    stage strictly after the previous one for the same user.

    The product-analytics staple that trips up naive SQL (a plain
    per-type min ignores ORDER: a click before the first view must not
    count). One shuffle to user grain, then pure array logic: the first
    view is a conditional min; later stages take the min of that type's
    timestamps AFTER the previous stage via a higher-order filter.

    Scale: state per user is its click/purchase timestamp arrays —
    bounded by events-per-user, fine for human-scale activity; for
    adversarially hot keys (bots) the same semantics decompose into one
    min-aggregate + join per stage, trading k joins for O(1) state.
    All stage times are integer microseconds and the conversion rates
    are single integer divisions — deterministic at any partitioning.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias("t_view"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ts_us")))
        ).alias("clicks"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts_us")))
        ).alias("purchases"),
    )
    t_click = F.array_min(
        F.filter("clicks", lambda c: c > F.col("t_view"))
    ).alias("t_click")
    staged = per_user.select("user_id", "t_view", t_click, "purchases")
    t_purchase = F.array_min(
        F.filter("purchases", lambda p: p > F.col("t_click"))
    ).alias("t_purchase")
    final = staged.select("user_id", "t_view", "t_click", t_purchase)
    return final.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count("t_view").cast("long").alias("n_viewed"),
        F.count("t_click").cast("long").alias("n_clicked"),
        F.count("t_purchase").cast("long").alias("n_purchased"),
        F.round(F.count("t_click") / F.count("t_view").cast("double"), 6).alias(
            "click_rate"
        ),
        F.round(
            F.count("t_purchase") / F.count("t_click").cast("double"), 6
        ).alias("purchase_rate"),
    )


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T79 — PII-scrub stage over the JSON ``props`` payload: mask every
    digit with ``#`` and report, per event type, how much was redacted.

    The shape of every redaction pass in an LLM-data pipeline (emails,
    phone numbers, account ids): a pure ``regexp_replace`` over the
    payload column — JVM-side, codegen-friendly, zero Python in the hot
    path — plus an audit aggregation so the scrub is observable (count
    of masked characters, events touched, distinct post-scrub
    templates). At 100 TB the scrub itself is embarrassingly parallel
    (no shuffle); only the tiny per-type audit aggregates shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    scrubbed = F.regexp_replace("props", "[0-9]", "#")
    stripped = F.regexp_replace("props", "[0-9]", "")
    return (
        events.select(
            "event_type",
            scrubbed.alias("scrubbed"),
            (F.length("props") - F.length(stripped)).alias("n_masked"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("n_masked").cast("long").alias("n_masked_chars"),
            F.sum((F.col("n_masked") > 0).cast("int")).cast("long").alias("n_touched"),
            F.count_distinct("scrubbed").alias("n_templates"),
        )
        .orderBy("event_type")
    )


def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T99 — cohort retention matrix: users grouped by first-seen week,
    distinct-user counts per (cohort week, weeks-since-cohort).

    The product-analytics staple. Scale: first-seen is one hash-agg to
    user grain; the join back is user-key equi (at 100 TB the cohort
    frame is the same cardinality as the user dim — shuffle-join on
    user_id, never broadcast); the matrix agg is tiny (weeks²).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    )
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_week", TS_FMT).alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def event_type_transitions(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """T100 — behavioral bigrams: per-user consecutive event-type pairs
    (ordered by time, event_id tie-break), global top-k transitions.

    Scale: ONE window pass partitioned by user (the shuffle is on
    user_id, state per task is one row), then a hash-agg on 25 possible
    pairs — the classic sessionless sequence-mining primitive.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n_transitions"))
        .orderBy(F.col("n_transitions").desc(), "src", "dst")
        .limit(k)
    )


def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T101 — RFM segmentation: per-user Recency (days since last event
    vs corpus end), Frequency (events), Monetary (exact-decimal value
    sum), each cut into quartiles with ``ntile(4)``.

    Determinism: every ntile orders by (metric, user_id) — a total
    order, so quartile boundaries are stable under any partitioning.
    Scale: one user-grain hash-agg; three window passes over the USER
    table (not events); corpus end is a broadcast single-row crossJoin.
    """
    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max(F.col("ts").cast("date")).alias("end_date"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_date"),
            F.count("*").cast("long").alias("frequency"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,12)")).cast("double"), 6
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(end))
        .select(
            "user_id",
            F.datediff("end_date", "last_date").cast("int").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy(F.col("recency_days").asc(), F.col("user_id")))
        .alias("r_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("user_id")))
        .alias("f_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), F.col("user_id")))
        .alias("m_quartile"),
    ).orderBy("user_id")


def hourly_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T102 — view→purchase conversion by hour of day: conditional
    counts + one IEEE division, single hash-agg over 24 groups."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").cast("int").alias("hour_of_day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_views"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
        )
        .withColumn(
            "conversion",
            F.round(
                F.col("n_purchases").cast("double") / F.col("n_views"), 6
            ),
        )
        .orderBy("hour_of_day")
    )


def error_bursts(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """T103 — error-burst detection: 5-minute tumbling buckets per user
    with ≥2 error events, top-k heaviest bursts.

    Bucketing is integer µs arithmetic (``unix_micros div`` — no
    timezone, no double), so Spark and DuckDB agree bit-for-bit. Scale:
    the error filter pushes to the scan; the agg key (user, bucket) is
    high-cardinality but each group is tiny — classic map-side-combine
    friendly.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "error"
    )
    bucket = F.expr("unix_micros(ts) div 300000000")
    return (
        ev.groupBy(
            "user_id",
            F.timestamp_micros(bucket * 300 * 1_000_000)
            .cast("timestamp")
            .alias("bucket_ts"),
        )
        .agg(F.count("*").cast("long").alias("n_errors"))
        .where(F.col("n_errors") >= 2)
        .select(
            "user_id",
            F.date_format("bucket_ts", TS_FMT).alias("bucket_start"),
            "n_errors",
        )
        .orderBy(F.col("n_errors").desc(), "user_id", "bucket_start")
        .limit(k)
    )


def event_debounce_stats(
    spark: SparkSession, sf_dir: str, gap_seconds: int = 60
) -> DataFrame:
    """T131 — per-(user, type) debounce: an event is NOISE if it fires
    within ``gap_seconds`` of the previous event of the same (user,
    type); report kept/dropped counts per event_type.

    The dedup-adjacent stream-hygiene pass (double-clicks, retry storms,
    sensor chatter) every event pipeline runs before counting anything.
    Lag-based semantics — compare to the previous RAW event, not the
    previously kept one — so the operator is ONE window pass (no
    iteration) and the oracle can restate it exactly. One shuffle on
    (user_id, event_type); the window never buffers more than a
    partition's events.

    Determinism: integer microsecond arithmetic (``unix_micros``), no
    float time math (oracle rule 8).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = gap_seconds * 1_000_000
    flagged = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("since_prev_us"),
    )
    dropped = F.col("since_prev_us").isNotNull() & (
        F.col("since_prev_us") < F.lit(gap_us)
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count(F.when(dropped, 1)).cast("long").alias("n_dropped"),
            F.count(F.when(~dropped, 1)).cast("long").alias("n_kept"),
        )
        .orderBy("event_type")
    )


def session_paths(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30, k: int = 25
) -> DataFrame:
    """T132 — top-k session opening paths: the first three event types
    of each session (30-minute inactivity gap), counted across users.

    Sequence analytics on top of sessionization — the "how do journeys
    start" query product teams run daily. Gaps-and-islands assigns
    session ids with ONE cumulative-sum window (no iteration), then the
    path is a per-session sort + ``array_join`` of the first three
    types. Two shuffles total (user window, path count); the heavy
    per-user window state is bounded by a user's own events.

    Tie-break: events at the same timestamp order by event_id, so the
    path string is total-ordered and the oracle agrees.
    """
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    new_sess = (
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_user)
        > F.lit(gap_us)
    )
    with_sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(F.when(new_sess, 1).otherwise(0))
        .over(w_user)
        .alias("session_seq"),
    )
    w_sess = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    first3 = (
        with_sess.select(
            "user_id",
            "session_seq",
            "event_type",
            F.row_number().over(w_sess).alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        first3.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(k)
    )


def event_type_runs(spark: SparkSession, sf_dir: str, k: int = 30) -> DataFrame:
    """T133 — run-length encoding of each user's event stream: collapse
    consecutive same-type events into (user, run_start, type, run_length)
    intervals; report the top-k longest runs.

    The islands half of gaps-and-islands (t132 did the gaps): a run
    boundary is a TYPE CHANGE rather than a time gap, which is exactly
    SCD-2 history building — consecutive states collapse into validity
    intervals. One window pass marks boundaries (``lag``), a running sum
    numbers the runs, one hash-agg collapses them. Two shuffles total,
    state bounded per user.

    Total order: run_length desc, then (user_id, run_start) — ties
    can't reorder across partitions.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    )
    runs = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(F.when(changed, 1).otherwise(0)).over(w).alias("run_seq"),
    )
    return (
        runs.groupBy("user_id", "run_seq", "event_type")
        .agg(
            F.date_format(F.min("ts"), TS_FMT).alias("run_start"),
            F.count("*").cast("long").alias("run_length"),
        )
        .select("user_id", "event_type", "run_start", "run_length")
        .orderBy(
            F.col("run_length").desc(), "user_id", "run_start"
        )
        .limit(k)
    )


def late_event_accounting(
    spark: SparkSession, sf_dir: str, drop_after_us: int = 600_000_000
) -> DataFrame:
    """T143 — watermark lateness accounting over a simulated out-of-order
    arrival: arrival order is md5(event_id) (a deterministic shuffle of
    the timestamp-ordered table), the watermark is the per-user running
    max event time over prior arrivals, and an event is late when its
    event time sits behind that watermark — dropped when it is more than
    ``drop_after_us`` behind (the allowed-lateness budget a streaming
    job would configure).

    This is the batch restatement of keyed watermarks (Flink-style,
    matching `withWatermark` semantics per key): everything is exact
    BIGINT microsecond arithmetic — no float anywhere — and the running
    max is a PARTITIONED window (per user), so state is bounded per key
    and the plan scales as one shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.md5(F.col("event_id").cast("string")).alias("arr"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lateness = F.greatest(
        F.coalesce(F.max("ts_us").over(w) - F.col("ts_us"), F.lit(0)), F.lit(0)
    )
    return (
        ev.withColumn("late_us", lateness)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.sum(F.when(F.col("late_us") > drop_after_us, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.max("late_us").cast("long").alias("max_late_us"),
        )
        .orderBy("event_type")
    )


def peak_concurrency(
    spark: SparkSession, sf_dir: str, hold_us: int = 300_000_000
) -> DataFrame:
    """T144 — per-user peak concurrency by sweep-line: each event opens a
    half-open interval [ts, ts+hold) and the answer is the maximum
    number of simultaneously open intervals, plus the first instant the
    peak is reached (max concurrent sessions / connections — the classic
    interval-stabbing aggregate).

    Sweep-line as dataflow: union of (+1 at open, -1 at close) deltas,
    one PARTITIONED running sum ordered by (time, delta) — closes sort
    before opens at the same instant, which is exactly the half-open
    semantics. Tie groups share a sign, so the running-sum multiset is
    permutation-independent and the max/argmax are deterministic. All
    BIGINT microsecond arithmetic; one shuffle on user_id, state
    bounded per key — the same plan at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("t")
    )
    return sweepline_peaks(ev, hold_us)


def sweepline_peaks(ev: DataFrame, hold_us: int) -> DataFrame:
    """Sweep-line core of :func:`peak_concurrency` over a (user_id, t)
    frame — factored out so the boundary fuzzer can feed grid-aligned
    inputs whose closes coincide exactly with opens."""
    # one scan, not a union of two: each event emits its (+1, -1) delta
    # pair from a codegen'd 2-element array explode
    deltas = ev.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(F.col("t").alias("t"), F.lit(1).alias("delta")),
                F.struct((F.col("t") + hold_us).alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("d"),
    ).select("user_id", F.col("d.t").alias("t"), F.col("d.delta").alias("delta"))
    wk = Window.partitionBy("user_id")
    wrun = wk.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
    swept = deltas.select(
        "user_id",
        "t",
        F.sum("delta").over(wrun).alias("open_now"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .over(wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n_events"),
    )
    peaked = swept.withColumn(
        "peak",
        F.max("open_now").over(
            wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    return (
        peaked.where(F.col("open_now") == F.col("peak"))
        .groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max("peak").cast("long").alias("peak_concurrency"),
            F.date_format(F.timestamp_micros(F.min("t")), TS_FMT).alias("peak_at"),
        )
        .orderBy("user_id")
    )


def last_touch_attribution(
    spark: SparkSession, sf_dir: str, window_us: int = 1_800_000_000
) -> DataFrame:
    """T149 — last-touch conversion attribution: each ``purchase`` is
    attributed to the same user's most recent PRIOR ``click`` if it
    happened within the attribution window (30 min); the report is
    daily purchase counts, attachment counts, and the attach rate.

    One partitioned window does all the work: a running max of
    click-times over (user, time order, strictly-prior rows) lands the
    last click on every event, and purchases compare it against the
    window budget — exact BIGINT microsecond arithmetic, one shuffle on
    user_id, no self-join of the events table against itself.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.to_date(F.col("ts")).alias("day"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts_us"))
    ).over(w)
    attributed = (
        F.col("event_type") == "purchase"
    ) & (F.col("ts_us") - F.coalesce(last_click, F.lit(-(1 << 62))) <= window_us)
    return (
        ev.withColumn("attr", attributed)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(F.when(F.col("attr"), 1).otherwise(0))
            .cast("long")
            .alias("n_attributed"),
        )
        .withColumn(
            "attach_rate", F.round(F.col("n_attributed") / F.col("n_purchases"), 6)
        )
        .orderBy("day")
    )


def hourly_anomalies(
    spark: SparkSession, sf_dir: str, z_threshold: float = 2.0
) -> DataFrame:
    """T154 — volume anomaly detection: hourly event counts per type,
    flagged where the count sits more than ``z_threshold`` population
    standard deviations from that type's own hourly mean — the
    monitoring query behind every "traffic spike / outage" alert.

    Two stacked aggregations, both map-side combinable: events →
    (type, hour) counts, then per-type exact moments over the counts
    (integer Σc and Σc² are exact in decimal, so mean/std are
    deterministic; z is one fixed IEEE expression). The per-type moment
    table is tiny and joins back as a broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", F.col("ts")), TS_FMT).alias("hour"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    moments = hourly.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n_hours"),
        F.sum(F.col("n_events").cast("decimal(20,0)")).cast("double").alias("sc"),
        F.sum((F.col("n_events") * F.col("n_events")).cast("decimal(20,0)"))
        .cast("double")
        .alias("scc"),
    )
    mean = F.col("sc") / F.col("n_hours")
    std = F.sqrt(F.col("scc") / F.col("n_hours") - mean * mean)
    return (
        hourly.join(F.broadcast(moments), "event_type")
        .withColumn("z", (F.col("n_events") - mean) / std)
        .where(F.abs(F.col("z")) > z_threshold)
        .select(
            "event_type",
            "hour",
            "n_events",
            F.round(mean, 6).alias("mean_hourly"),
            F.round("z", 6).alias("z_score"),
        )
        .orderBy("event_type", "hour")
    )


def event_type_pagerank(
    spark: SparkSession, sf_dir: str, iters: int = 20, damping: float = 0.85
) -> DataFrame:
    """T161 — PageRank over the event-type transition graph: nodes are
    event types, edge weights are the empirical P(next=b | a) from each
    user's consecutive event pairs, 20 power iterations at damping 0.85
    — iterative dataflow (the one thing one-shot SQL can't do) with a
    bit-exact oracle: the SQL side unrolls the same 20 iterations.

    Scale shape: the heavy work is ONE pass building transition counts
    (lag window per user, hash-agg on the type pair — identical at any
    corpus size); the iteration then runs on the type×type matrix,
    which is METADATA-sized (k² rows), exactly like k-means' k×dim
    state. Determinism: edge weights are one IEEE division of exact
    longs; each contribution rank·w is quantized to 12 decimals
    HALF_UP (decimal(20,12) semantics) before the per-node exact sum,
    and the damping update is a fixed IEEE expression — so 20 chained
    iterations stay bit-identical with the oracle's unrolled SQL.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    out_tot = pairs.groupBy("src").agg(F.sum("c").cast("long").alias("tot"))
    edges = pairs.join(out_tot, "src").select(
        "src",
        "dst",
        (F.col("c").cast("double") / F.col("tot").cast("double")).alias("w"),
    )
    # The iteration state is k ranks and k² edge weights — metadata-sized
    # (k-means' k×dim pattern), so ONE collect brings the matrix to the
    # driver and the 20 power iterations run in microseconds instead of
    # 20 Spark jobs. Arithmetic replicates the engine recipe exactly:
    # each rank·w contribution is an IEEE double product quantized to 12
    # decimals HALF_UP (= cast to decimal(20,12)), per-node sums are
    # exact Decimal (order-independent), and the damping update is the
    # same fixed IEEE expression the SQL oracle unrolls.
    from decimal import ROUND_HALF_UP, Decimal

    edge_rows = edges.collect()
    n = float(len({r.src for r in edge_rows}))
    base = (1.0 - damping) / n
    q12 = Decimal(1).scaleb(-12)
    ranks = {v: 1.0 / n for v in {r.src for r in edge_rows}}
    for _ in range(iters):
        sums: dict[str, Decimal] = {}
        for r in edge_rows:
            if r.src in ranks:
                sums[r.dst] = sums.get(r.dst, Decimal(0)) + Decimal(
                    ranks[r.src] * r.w
                ).quantize(q12, rounding=ROUND_HALF_UP)
        ranks = {v: base + damping * float(s) for v, s in sums.items()}
    out = spark.createDataFrame(
        sorted(ranks.items()), "node string, rank double"
    )
    return out.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T162 — time-to-convert distribution: for every user whose first
    ``purchase`` follows their first ``view``, the view→purchase latency,
    summarized as count + exact interpolated p50/p90 seconds — the
    product metric behind "how long does conversion take".

    One window pass lands each user's first view on every row (no
    self-join); the converting set is a filter + per-user min; the
    global percentiles run over one row per converted user (user-grain,
    tiny). Latencies are exact BIGINT microseconds; the percentile
    interpolation and the µs→s division are fixed IEEE expressions.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    wu = Window.partitionBy("user_id")
    with_v = ev.withColumn(
        "v",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(wu),
    )
    conv = (
        with_v.where(
            (F.col("event_type") == "purchase") & (F.col("ts_us") > F.col("v"))
        )
        .groupBy("user_id", "v")
        .agg(F.min("ts_us").alias("p"))
        .select((F.col("p") - F.col("v")).alias("lat_us"))
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.expr("percentile(lat_us, 0.5)") / 1_000_000.0, 6).alias("p50_sec"),
        F.round(F.expr("percentile(lat_us, 0.9)") / 1_000_000.0, 6).alias("p90_sec"),
    )


def cep_pattern_counts(
    spark: SparkSession, sf_dir: str, window_us: int = 1_800_000_000
) -> DataFrame:
    """T168 — complex-event-processing pattern match, window-function
    style (MATCH_RECOGNIZE semantics without the syntax): count
    ``view → purchase`` completions within 30 minutes with NO ``error``
    event in between, per day — the "clean conversion" pattern every
    CEP engine sells.

    One partitioned window pass carries BOTH running maxes (last view,
    last error) onto every event; a purchase completes the pattern iff
    its last view is within the window AND strictly later than any
    intervening error. No self-joins, exact BIGINT µs arithmetic, one
    shuffle on user_id — the plan shape is identical to t149 with one
    more running max, which is how arbitrary A-then-B-without-C
    patterns compile to dataflow.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.to_date(F.col("ts")).cast("string").alias("day"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts_us"))
    ).over(w)
    last_error = F.max(
        F.when(F.col("event_type") == "error", F.col("ts_us"))
    ).over(w)
    neg_inf = F.lit(-(1 << 62))
    clean = (
        (F.col("ts_us") - F.coalesce(last_view, neg_inf) <= window_us)
        & (F.coalesce(last_view, neg_inf) > F.coalesce(last_error, neg_inf))
    )
    return (
        ev.withColumn("clean", clean)
        .where(F.col("event_type") == "purchase")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(F.when(F.col("clean"), 1).otherwise(0))
            .cast("long")
            .alias("n_clean_conversions"),
        )
        .orderBy("day")
    )


def linear_attribution(
    spark: SparkSession, sf_dir: str, window_us: int = 1_800_000_000
) -> DataFrame:
    """T172 — multi-touch LINEAR attribution (t149 is last-touch): each
    purchase's credit splits equally across ALL of the user's clicks in
    the prior 30 minutes, and the report sums fractional credit per day
    — the other standard attribution model, and the one that needs a
    genuine range join (purchase × its click set) rather than a single
    running max.

    Scale shape: clicks and purchases are both event-grain; the
    candidate join is keyed on user_id (co-partitioned) with the time
    band as a residual predicate, so fan-out is bounded by
    clicks-per-user-per-window, not the cross product. Credit 1/n is
    one IEEE division quantized to decimal(20,12) before the exact
    per-day sum.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.to_date(F.col("ts")).cast("string").alias("day"),
        "event_id",
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("click_ts"), F.col("day").alias("click_day")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us"
    )
    matched = purchases.join(clicks, "user_id").where(
        (F.col("click_ts") < F.col("ts_us"))
        & (F.col("ts_us") - F.col("click_ts") <= window_us)
    )
    w = Window.partitionBy("event_id")
    credited = matched.withColumn("n_touches", F.count("*").over(w)).select(
        "click_day",
        (F.lit(1.0) / F.col("n_touches").cast("double"))
        .cast("decimal(20,12)")
        .alias("credit"),
    )
    return (
        credited.groupBy(F.col("click_day").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_touchpoints"),
            F.round(F.sum("credit").cast("double"), 6).alias("total_credit"),
        )
        .orderBy("day")
    )


def props_struct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T174 — schema-first JSON parsing: ``from_json`` with an EXPLICIT
    schema (not per-field ``get_json_object``) — one parse per row
    regardless of field count, the rule at 100 TB where parse cost
    dominates semi-structured scans; malformed rows surface as NULL
    structs instead of poisoning the job.

    Reports per event_type: parsed/malformed counts and stats over the
    typed field — all downstream of a single codegen'd parse.
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "struct<k:bigint>")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count(F.col("p.k")).cast("long").alias("n_parsed_k"),
            F.sum(F.when(F.col("p").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_malformed"),
            F.sum(F.col("p.k")).cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


def transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T175 — the user-journey Markov transition table: empirical
    P(next=b | a) over consecutive event pairs per user (the edge table
    t161's PageRank iterates on, exposed as the product-analytics
    deliverable it is).

    One lag-window pass + one map-side-combined hash-agg on the type
    pair; probabilities are one IEEE division of exact longs.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )
    tot = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(tot).cast("double"),
            6,
        ).alias("p_next"),
    ).orderBy("src", "dst")


def interarrival_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T183 — event inter-arrival distribution per type: exact
    interpolated p50/p90/p99 of the gaps between consecutive same-type
    events — the arrival-process characterization that sizes streaming
    watermarks, batch triggers, and alert debounce budgets.

    One lag window per (type) ordered by time, then percentiles over
    the gap column — exact BIGINT microsecond gaps, percentile
    interpolation a fixed IEEE expression on both engines (t148/t162
    precedent).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts")).alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    gaps = ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w)).where(
        F.col("gap_us").isNotNull()
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.round(F.expr("percentile(gap_us, 0.5)") / 1_000_000.0, 6).alias(
                "p50_sec"
            ),
            F.round(F.expr("percentile(gap_us, 0.9)") / 1_000_000.0, 6).alias(
                "p90_sec"
            ),
            F.round(F.expr("percentile(gap_us, 0.99)") / 1_000_000.0, 6).alias(
                "p99_sec"
            ),
        )
        .orderBy("event_type")
    )


def transition_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T194 — journey timing: mean dwell seconds per (current, next)
    event-type transition — t175's edge table with TIME on the edges,
    the input to journey bottleneck analysis ("users stall between
    view and purchase").

    Same single lag/lead window pass; gaps are exact BIGINT
    microseconds, the mean is an exact decimal sum with one division,
    emitted in seconds.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .withColumn("next_ts", F.lead("ts_us").over(w))
        .where(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("src"),
            F.col("next_type").alias("dst"),
            (F.col("next_ts") - F.col("ts_us")).alias("dwell_us"),
        )
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(
            F.count("*").cast("long").alias("n_transitions"),
            F.round(
                F.sum(F.col("dwell_us").cast("decimal(20,0)")).cast("double")
                / F.count("*")
                / 1_000_000.0,
                6,
            ).alias("mean_dwell_sec"),
            F.round(F.max("dwell_us") / 1_000_000.0, 6).alias("max_dwell_sec"),
        )
        .orderBy("src", "dst")
    )


def sequence_anomaly_scores(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """T203 — behavioral anomaly detection: score each user's event
    sequence by its mean negative log-likelihood under the corpus
    transition model (t175's matrix) and report the top-k most
    surprising users — the classic bot / scripted-traffic screen.

    The transition model is one lag-window + hash-agg pass; scoring
    joins each user's transition instances back to the model
    probabilities (an equi-join on the type pair — 25 keys, broadcast)
    and averages −ln P per user with quantized-decimal sums. One
    shuffle on user_id, one broadcast join, a global top-k heap.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    inst = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(
            "user_id",
            F.col("event_type").alias("src"),
            F.col("next_type").alias("dst"),
        )
    )
    pairs = inst.groupBy("src", "dst").agg(F.count("*").cast("long").alias("c"))
    tot = Window.partitionBy("src")
    model = pairs.select(
        "src",
        "dst",
        (F.col("c").cast("double") / F.sum("c").over(tot).cast("double")).alias(
            "p"
        ),
    )
    scored = inst.join(F.broadcast(model), ["src", "dst"]).select(
        "user_id", (-F.log("p")).cast("decimal(20,12)").alias("nll")
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_transitions"),
            F.round(F.sum("nll").cast("double") / F.count("*"), 6).alias(
                "mean_nll"
            ),
        )
        .orderBy(F.col("mean_nll").desc(), F.col("user_id").asc())
        .limit(k)
    )


def session_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T206 — which event types co-occur in the same session? PMI of
    unordered type pairs over 30-minute sessions (t16's islands), the
    session-level association mining that reveals e.g. "errors co-occur
    with purchases" operational stories.

    Sessions from one islands pass; per-session DISTINCT types from a
    session-grain hash-agg; pairs by a session-keyed self-join of that
    small table (bounded: ≤ 5 types per session → ≤ 10 pairs); PMI from
    exact counts with a fixed ln-term order (t126's recipe).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    sess = ev.withColumn(
        "is_start",
        F.coalesce(
            (F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us, F.lit(True)
        ).cast("int"),
    ).withColumn(
        "session_id",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    stypes = sess.select("user_id", "session_id", "event_type").distinct()
    n_sessions = stypes.select("user_id", "session_id").distinct().count()
    type_counts = stypes.groupBy("event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    a = stypes.select("user_id", "session_id", F.col("event_type").alias("ta"))
    b = stypes.select("user_id", "session_id", F.col("event_type").alias("tb"))
    pair_counts = (
        a.join(b, ["user_id", "session_id"])
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    ca = type_counts.select(F.col("event_type").alias("ta"), F.col("c").alias("c1"))
    cb = type_counts.select(F.col("event_type").alias("tb"), F.col("c").alias("c2"))
    pmi = (
        F.log(F.col("c12").cast("double"))
        - F.log(F.col("c1").cast("double"))
        - F.log(F.col("c2").cast("double"))
        + F.log(F.lit(float(n_sessions)))
    )
    return (
        pair_counts.join(F.broadcast(ca), "ta")
        .join(F.broadcast(cb), "tb")
        .select("ta", "tb", "c12", F.round(pmi, 6).alias("pmi"))
        .orderBy("ta", "tb")
    )


def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T218 — behavioral diversity: Shannon entropy of each user's
    event-type distribution — near zero flags single-action scripts
    (the cheap cousin of t203's Markov screen), near ln(5) flags
    uniformly mixed organic use.

    t181's entropy recipe at user grain: exact (user, type) counts, a
    user-partition total, each −p·ln p term quantized before the
    per-user sum. Two shuffles, both on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    wu = Window.partitionBy("user_id")
    term = (
        -(F.col("c").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
    ).cast("decimal(20,12)")
    return (
        counts.withColumn("n", F.sum("c").over(wu))
        .select("user_id", term.alias("term"), "n")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.round(F.sum("term").cast("double"), 6).alias("type_entropy"),
        )
        .orderBy("user_id")
    )


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T235 — semi-structured extraction: pull ``$.k`` out of the JSON
    ``props`` string through Spark 4's VARIANT type — ``parse_json``
    once into a binary variant column, typed ``try_variant_get``
    extraction — and aggregate per event_type.

    Why VARIANT: at 100 TB ``get_json_object`` re-parses the JSON TEXT
    on every query and every field; a variant column is parsed ONCE at
    ingest into a binary encoding that parquet stores natively (Spark 4
    shreds it columnar), so each later query pays a typed path lookup,
    not a parse — the difference between CPU-bound and IO-bound scans
    on a props-heavy event table. The write side is one ``parse_json``
    in the ingest job; here both steps run inline so the op stays
    self-contained and oracle-identical (``try_variant_get`` returns
    NULL on a missing path, matching ``json_extract`` semantics).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.try_variant_get("v", "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count("k").cast("long").alias("n_with_k"),
        )
        .orderBy("event_type")
    )
