"""Scale-pattern operators: the physical-layout and skew techniques that
keep joins/scans viable at 100 TB, each wrapped as an oracle-checkable
query.

The reference engine's only layout lever is its md5-mod-P hash partition
of intermediate files (reference ``mapreduce/worker/__main__.py:62-65``) —
there is no bucketing, no partition pruning, no skew handling, no
cost-based anything (SURVEY.md §4). These operators demonstrate the Spark
tools that replace and extend that single lever:

* **bucketing** (T40) — pre-shuffle a table on its join key at write time
  so every later join on that key is exchange-free;
* **salting** (T41) — spread a skewed join key across `salts` synthetic
  sub-keys so no single reducer owns a hot key (the manual counterpart to
  AQE's skew-join splitting, needed when the build side can't broadcast);
* **hive-style partition pruning** (T42) — directory-level data skipping:
  a filter on the partition column means non-matching files are never
  listed, let alone read;
* **grouping sets** (T43) and **correlated subqueries** (T44) — Catalyst
  rewrites (expand + single shuffle; decorrelation into an aggregate
  join) that the reference could only express as multiple full jobs;
* **bucketed range join** (T45) — the band-bucket prefilter that turns an
  O(n²) interval self-join into an equi-join on coarse time buckets plus
  an exact refine, the same candidate-then-verify shape as MinHash-LSH
  (``operators/dedup.py``).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_google_spark.functions.numeric import dsum, money
from mapreduce_google_spark.functions.text import tokenize
from mapreduce_google_spark.io import (
    derived_dir,
    exclusive,
    load_table,
    register_views,
    write_once,
)

#: decimal sum → double, rounded — deterministic vs the oracle regardless
#: of partitioning (double accumulation order varies run to run).
#: (now shared repo-wide as functions.numeric.dsum/money)
def _revenue(col: str):
    return dsum(money(col))


def bucketed_revenue_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T40 — co-located join via bucketed tables: revenue per market
    segment from ``orders ⋈ customer``, with both sides bucketed (and
    sorted) on custkey at write time.

    The one-time bucketed write is the amortized shuffle: every
    subsequent join on the bucket key reads bucket i of both tables into
    the same task — no exchange, no sort (``tests/test_plans.py``
    pins ≤2 exchanges: only the final agg + order-by). At 100 TB this is
    the difference between re-shuffling the fact table per query and
    never shuffling it again; the same layout serves every custkey join
    (orders⋈customer, lineitem⋈orders via orderkey buckets, …). Both
    sides are :func:`io.bucketed_fact_table` stores — orders on
    ``o_custkey`` is the one t09/t11 read — so they share the session's
    bucket count and are adopted, not rebuilt, by later sessions.

    The ``merge`` hint opts this join out of broadcasting so the gate
    actually proves bucket co-location (at test scale customer would
    otherwise broadcast; at 100 TB neither side broadcasts and the
    bucketed sort-merge IS the plan).
    """
    from mapreduce_google_spark.io import bucketed_fact_table

    orders = spark.table(bucketed_fact_table(spark, sf_dir, "orders", "o_custkey"))
    customer = spark.table(
        bucketed_fact_table(spark, sf_dir, "customer", "c_custkey")
    )
    return (
        orders.hint("merge")
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            _revenue("o_totalprice").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def salted_brand_revenue(
    spark: SparkSession, sf_dir: str, salts: int = 8
) -> DataFrame:
    """T41 — skew-salted shuffle join: revenue per part brand from
    ``lineitem ⋈ part``, with the join key salted across ``salts``
    sub-keys.

    The pattern for a hot key that a plain hash join would serialize onto
    one reducer, when the build side is too large to broadcast: replicate
    each build row ``salts`` times (once per salt value) and give each
    probe row a uniform pseudo-random salt, then join on
    ``(key, salt)`` — the hot key's probe rows now spread over ``salts``
    tasks. Cost: build side inflates ×salts, so salts is sized to the
    skew factor, not the cluster. AQE's skew-join split
    (``spark.sql.adaptive.skewJoin``) automates this for sort-merge
    joins; manual salting remains the tool for hash joins and for
    aggregations (salt → partial agg → de-salt final agg).

    The probe salt comes from ``xxhash64`` of the row's unique key — any
    uniform deterministic value works; it never appears in the result.
    The ``shuffle_hash`` hint keeps the demo honest (part would broadcast
    at test scale).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    salt_values = F.array(*[F.lit(i) for i in range(salts)])
    build = part.select(
        "p_partkey", "p_brand", F.explode(salt_values).alias("salt")
    )
    probe = li.select(
        "l_partkey",
        "l_extendedprice",
        "l_discount",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(salts))
        .cast("int")
        .alias("salt"),
    )
    return (
        probe.join(
            build.hint("shuffle_hash"),
            (probe.l_partkey == build.p_partkey) & (probe.salt == build.salt),
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                4,
            ).alias("revenue"),
        )
        .orderBy("p_brand")
    )


#: fixed probe day for T42 — present at every sf (events span 2024-01).
PRUNE_DAY = "2024-01-02"


def partition_pruned_daily_counts(
    spark: SparkSession, sf_dir: str, day: str = PRUNE_DAY
) -> DataFrame:
    """T42 — hive-partitioned sink + partition-pruned scan: event counts
    per type for one day, read from a copy of ``events`` written
    ``partitionBy("event_date")``.

    The write lays events out as ``event_date=YYYY-MM-DD/`` directories —
    the table-layout analog of the reference's per-partition intermediate
    files (``maptask*-partNNNNN``, reference ``worker/__main__.py:159-166``)
    but keyed by a *semantic* column, so a filter on it prunes at the
    directory level: the scan for one day lists 1/30th of the files and
    reads zero bytes of the rest (``tests/test_plans.py`` pins
    ``PartitionFilters``). At 100 TB date-partitioning is the first
    layout decision any event table makes; pruning is what keeps
    point-in-time queries O(day) instead of O(history).

    The one-time partitioned write is cached per corpus version
    (:func:`io.derived_dir`).
    """
    out = write_once(
        derived_dir("part_events", sf_dir, "events"),
        lambda path: (
            load_table(spark, sf_dir, "events")
            .withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
            .repartition("event_date")  # one task per day → one file per dir
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        ),
    )
    return (
        spark.read.parquet(out)
        .where(F.col("event_date") == day)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            dsum(money("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T43 — GROUPING SETS ((region), (region, nation), ()): order revenue
    at three aggregation levels in ONE pass.

    Catalyst's Expand rewrite emits one row per row per grouping set into
    a single hash aggregate — one scan + one shuffle for all three
    levels, where the reference framework would run three full
    map-reduce jobs (its only aggregation is one group-reduce per job,
    reference ``worker/__main__.py:241-249``). Null group labels are
    coalesced to 'ALL' so both engines order identically.
    """
    register_views(spark, sf_dir, ("orders", "customer", "nation", "region"))
    return spark.sql(
        """
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(n_name, 'ALL') AS nation,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                   AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
        ORDER BY region, nation
        """
    )


def above_segment_average_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T44 — correlated scalar subquery: per segment, how many customers
    hold an account balance above their segment's average.

    Catalyst decorrelates the subquery into an aggregate + join (one scan
    of customer for the averages, one for the probe — no per-row
    re-execution), the rewrite that makes correlated SQL usable at scale;
    the reference has no subquery concept at all (SURVEY.md §4:
    "subquery decorrelation — no joins/subqueries").
    """
    register_views(spark, sf_dir, ("customer",))
    # the comparison threshold uses the exact-decimal mean (one double
    # division of exact operands — functions/numeric.py recipe): an
    # avg(double) threshold can move by ULPs with partitioning, and a
    # boundary row would then flip membership vs the oracle
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_above_avg
        FROM customer c
        WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2)))
                                       AS DOUBLE) / count(*)
                           FROM customer c2
                           WHERE c2.c_mktsegment = c.c_mktsegment)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


def event_pairs_within_minute(
    spark: SparkSession, sf_dir: str, window_s: int = 60
) -> DataFrame:
    """T45 — pairs of events by the same user within ``window_s``
    seconds, counted per (earlier, later) event-type.

    The RANGE-FRAME window form (r16, VERDICT r15 item 5): per earlier
    event, the later event-types within the window are exactly
    ``collect_list(event_type)`` over ``rangeBetween(1 µs, window_s)``
    ordered by ``unix_micros(ts)`` within the user partition — the
    strictly-after lower bound is the join form's ``ts_b > ts_a`` and
    the inclusive upper its ``ts_b <= ts_a + window_s``. The window
    consumes the user_id-bucketed store's co-location (shared with t16;
    only a local (user, ts) sort is added), so the fact side runs with
    ZERO exchange — :func:`event_pairs_within_minute_raw_join` shuffles
    BOTH self-join sides on (user, bucket) and doubles the probe side
    with a 2-bucket explode, costs that grow with the corpus. Measured
    (r16 event-pairs shootout, equality-gated): medians 0.334 vs
    0.678 s at sf0.1 (−51%), 0.439 vs 1.722 s at sf1 (−75%), 0.327 vs
    3.915 s at the 30× replica (−92%) — t45 was the worst 30× scaler
    (6.39×) and the exchange-free form is essentially FLAT across 30×
    of data on 32 local cores. At 100 TB the per-user frame buffer is
    bounded by events-per-user-per-minute — per-key skew, not corpus
    size.
    """
    # ADVICE r16: window_s=0 would build an inverted rangeBetween(1, 0)
    # frame here and divide by zero in the reference — reject it up front.
    if window_s < 1:
        raise ValueError(f"window_s must be >= 1 second, got {window_s}")
    from mapreduce_google_spark.io import bucketed_fact_table

    ev = spark.table(
        bucketed_fact_table(spark, sf_dir, "events", "user_id")
    ).select("user_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(1, window_s * 1_000_000)
    )
    return (
        ev.select(
            F.col("event_type").alias("type_a"),
            F.collect_list("event_type").over(w).alias("laters"),
        )
        .select("type_a", F.explode("laters").alias("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("type_a", "type_b")
    )


def event_pairs_within_minute_raw_join(
    spark: SparkSession, sf_dir: str, window_s: int = 60
) -> DataFrame:
    """T45's reference over the raw scan (equality pinned against
    :func:`event_pairs_within_minute` in ``tests/test_plans.py`` and
    ``tests/test_flip_fuzz.py``): time bucketed into ``window_s``
    blocks, self-join on (user_id, bucket) with the later side probing
    its own and the previous bucket (any pair ≤ window_s apart lands in
    same/adjacent buckets), exact timestamp refine — hash-equi-join +
    filter, never a cross product (a naive interval self-join is
    BroadcastNestedLoop, undoable at 100 TB).
    """
    if window_s < 1:
        raise ValueError(f"window_s must be >= 1 second, got {window_s}")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    bucket = F.floor(F.unix_micros("ts") / F.lit(window_s * 1_000_000))
    earlier = ev.select(
        F.col("user_id").alias("u_a"),
        F.col("ts").alias("ts_a"),
        F.col("event_type").alias("type_a"),
        bucket.alias("bucket"),
    )
    later = ev.select(
        F.col("user_id").alias("u_b"),
        F.col("ts").alias("ts_b"),
        F.col("event_type").alias("type_b"),
        F.explode(F.array(bucket - 1, bucket)).alias("bucket"),
    )
    # user AND bucket are both equi-keys — the shuffle spreads by
    # (user, bucket), not by bucket alone (which would collide every
    # concurrent user into one task per time block)
    pairs = earlier.join(
        later,
        (earlier["bucket"] == later["bucket"]) & (F.col("u_a") == F.col("u_b")),
    ).where(
        (F.col("ts_b") > F.col("ts_a"))
        & (
            F.col("ts_b")
            <= F.col("ts_a") + F.expr(f"INTERVAL {window_s} SECONDS")
        )
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("type_a", "type_b")
    )


def jsonl_ingest_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T66 — JSONL ingest path end-to-end: documents staged once as
    newline-delimited JSON (the lingua franca of LLM corpus interchange),
    read back with an EXPLICIT schema, token-profiled per split shard.

    Pins the F1/F9 JSON surface (io.read_source/write_sink) with a real
    oracle: results must equal the same profile computed straight from
    the parquet table, so a lossy round-trip (encoding, schema drift,
    inference surprises) fails the hash. Schema is passed explicitly —
    at 100 TB inference costs a full pre-scan and can mis-type sparse
    fields; the explicit schema is the contract (io.read_source
    docstring). The staged copy is cached per source fingerprint
    (:func:`io.derived_dir`), mirroring t42's staging pattern.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mapreduce_google_spark.io import read_source, write_sink

    staged = write_once(
        derived_dir("jsonl_docs", sf_dir, "documents"),
        lambda path: write_sink(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            "json",
            path,
        ),
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = read_source(spark, "json", staged, schema=schema)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    return (
        docs.select((F.col("doc_id") % 10).alias("shard"), F.size(toks).alias("n"))
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
        .orderBy("shard")
    )


def schema_evolution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T110 — schema-evolution read: two parquet batches written at
    different "schema versions" (the second adds a ``lang`` column) read
    back as ONE table via ``io.read_parquet_evolved`` (mergeSchema),
    old rows null-filled, then profiled per coalesced lang.

    The table-evolves-in-place reality of any long-lived 100 TB corpus:
    files predate columns. mergeSchema costs a footer pass over all
    files — acceptable on evolving tables, or pin the unified schema
    explicitly (io.read_parquet_evolved docstring). Oracle: the same
    profile computed straight from ``documents`` with the version split
    re-derived from doc_id — a lossy merge fails the hash.
    """
    from mapreduce_google_spark.io import read_parquet_evolved

    staged = derived_dir("evolved_docs", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents")
    v1 = write_once(
        os.path.join(staged, "v1"),
        docs.where(F.col("doc_id") < 250)
        .select("doc_id", "n_chars")
        .write.mode("overwrite")
        .parquet,
    )
    v2 = write_once(
        os.path.join(staged, "v2"),
        docs.where(F.col("doc_id") >= 250)
        .select("doc_id", "n_chars", "lang")
        .write.mode("overwrite")
        .parquet,
    )
    merged = read_parquet_evolved(spark, v1, v2)
    return (
        merged.groupBy(F.coalesce("lang", F.lit("_pre_schema")).alias("lang"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .orderBy("lang")
    )


def dead_letter_ingest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T116 — corrupt-tolerant ingest: a JSONL batch where every 13th
    record is malformed is split into good rows vs a dead-letter side
    channel (``io.read_json_with_dead_letters`` — PERMISSIVE mode +
    ``_corrupt_record``), then audited: good/dead counts and a checksum
    over the surviving rows.

    The non-negotiable ingest property at 100 TB: bad records NEVER
    abort the job and NEVER silently vanish — they land in a quarantine
    table with the raw payload for replay. Corruption here is
    deterministic (doc_id % 13) so the DuckDB oracle re-derives the
    exact split from the source table; a parser that drops or
    mis-classifies one record fails the hash.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mapreduce_google_spark.io import read_json_with_dead_letters


    def write(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        lines = docs.select(
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.lit("{corrupt!"), F.col("doc_id").cast("string")),
            )
            .otherwise(F.to_json(F.struct("doc_id", "n_chars")))
            .alias("value")
        )
        lines.write.mode("overwrite").text(path)

    staged = write_once(derived_dir("deadletter_docs", sf_dir, "documents"), write)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("n_chars", LongType())]
    )
    good, dead = read_json_with_dead_letters(spark, staged, schema)
    g = good.agg(
        F.count("*").cast("long").alias("n_good"),
        F.sum("n_chars").cast("long").alias("total_chars_good"),
    )
    d = dead.agg(F.count("*").cast("long").alias("n_dead"))
    return g.crossJoin(F.broadcast(d)).select(
        "n_good", "n_dead", "total_chars_good"
    )


def bucketed_distinct_suppliers(
    spark: SparkSession, sf_dir: str, buckets: int = 16
) -> DataFrame:
    """T117 — skew-safe COUNT DISTINCT: per returnflag (3 hot groups that
    each hold ~1/3 of the table at any scale), distinct suppliers counted
    via value-space bucketing — phase 1 counts distincts within
    ``suppkey % buckets`` sub-groups, phase 2 SUMS the partials.

    Why: map-side partial agg makes plain sums skew-proof, but a naive
    ``countDistinct`` over 3 giant groups concentrates the distinct-set
    state on 3 reducers. Bucketing the VALUE space makes the partials
    additive (buckets partition suppkey), so the heavy exchange carries
    (flag × buckets) rows and the final agg is trivial — the standard
    rewrite for distinct-count skew; built-in exact decimal revenue
    partials ride along. Oracle: plain COUNT(DISTINCT)/sum per flag.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag", F.pmod("l_suppkey", F.lit(buckets)).alias("b")
    ).agg(
        F.countDistinct("l_suppkey").alias("d"),
        F.sum(money("l_extendedprice")).alias("rev_part"),  # exact partial
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(
            F.sum("d").cast("long").alias("n_suppliers"),
            F.round(F.sum("rev_part").cast("double"), 6).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


def join_skew_profile(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """T137 — pre-join skew diagnostic: the key-frequency profile of
    lineitem's join keys (orderkey, suppkey), emitted long-form as
    (key_col, stat, value).

    The report a 100 TB join is planned FROM: heavy hitters decide
    salting factors and AQE skew thresholds; the p50/p90/p99/max fanout
    bands decide whether a plain shuffle join is safe at all.

    Scale shape: one hash-agg per key column builds key→fanout; the
    PERCENTILES come from the count-of-counts distribution (fanout →
    number of keys with that fanout), which is tiny — bounded by the
    number of DISTINCT fanout values, not by keys — so the cumulative
    window runs over a broadcast-size table and nothing ever sorts the
    full key set. Heavy hitters are a TakeOrderedAndProject (per-
    partition heap + driver merge of k rows). Exact lower-percentile
    semantics (value at rank ceil(p·n) ascending) keep both engines
    bit-identical — no interpolation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = None
    for key_col in ("l_orderkey", "l_suppkey"):
        counts = li.groupBy(F.col(key_col).alias("key")).agg(
            F.count("*").alias("fanout")
        )
        dist = counts.groupBy("fanout").agg(F.count("*").alias("nk"))
        w_cum = Window.orderBy("fanout").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        total = dist.agg(F.sum("nk").alias("n")).select("n")
        cum = dist.select(
            "fanout", F.sum("nk").over(w_cum).alias("cum_keys")
        ).crossJoin(F.broadcast(total))
        pct_rows = None
        for p_name, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            row = (
                cum.where(
                    F.col("cum_keys")
                    >= F.ceil(F.lit(p) * F.col("n")).cast("bigint")
                )
                .agg(F.min("fanout").alias("v"))
                .select(
                    F.lit(key_col).alias("key_col"),
                    F.lit(p_name).alias("stat"),
                    F.col("v").cast("long").alias("value"),
                )
            )
            pct_rows = row if pct_rows is None else pct_rows.unionAll(row)
        hitters_base = counts.orderBy(
            F.col("fanout").desc(), F.col("key").asc()
        ).limit(k)
        w_top = Window.orderBy(F.col("fanout").desc(), F.col("key").asc())
        hitters = hitters_base.select(
            F.lit(key_col).alias("key_col"),
            F.concat(
                F.lit("hitter_"),
                F.lpad(F.row_number().over(w_top).cast("string"), 2, "0"),
            ).alias("stat"),
            F.col("fanout").cast("long").alias("value"),
        )
        basic = counts.agg(
            F.count("*").cast("long").alias("nk"),
            F.max("fanout").cast("long").alias("mx"),
        ).select(
            F.lit(key_col).alias("key_col"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("n_keys").alias("stat"), F.col("nk").alias("value")
                    ),
                    F.struct(
                        F.lit("max").alias("stat"), F.col("mx").alias("value")
                    ),
                )
            ).alias("s"),
        ).select("key_col", "s.stat", "s.value")
        part = basic.unionAll(pct_rows).unionAll(hitters)
        out = part if out is None else out.unionAll(part)
    return out.orderBy("key_col", "stat")


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T152 — data-profiling report over lineitem's numeric measures:
    per column, row/null/distinct counts and min/max — the first query
    a data engineer runs against an unfamiliar 100 TB table, and the
    statistics a query optimizer's ANALYZE collects.

    ONE scan: the four measures unpivot to (column, value) long form
    inside codegen (t118's reshape), then a single map-side-combined
    hash-agg per column computes every statistic. No per-column scan
    loop — profile cost is independent of how many columns you profile.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("double").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
    ).select("kv.column", "kv.value")
    return (
        long.groupBy("column")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            (F.count("*") - F.count("value")).cast("long").alias("n_nulls"),
            F.countDistinct("value").cast("long").alias("n_distinct"),
            F.round(F.min("value"), 6).alias("min_val"),
            F.round(F.max("value"), 6).alias("max_val"),
        )
        .orderBy("column")
    )


def numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T153 — exact Pearson correlation matrix of lineitem's measures,
    computed from ONE pass of exact-decimal moment sums (the 2-decimal
    inputs make every Σx, Σx², Σxy exact in decimal — ``corr()``'s
    running double accumulation would be partitioning-dependent), with
    the closed-form correlation evaluated once per pair in a fixed IEEE
    order. One scan, one single-row aggregate, six output rows — the
    same shape at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    d = {c: F.col(c).cast("decimal(12,2)") for c in cols}
    aggs = [F.count("*").cast("double").alias("n")]
    for c in cols:
        aggs.append(F.sum(d[c]).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(d[c] * d[c]).cast("double").alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum(d[a] * d[b]).cast("double").alias(f"sp_{a}_{b}"))
    m = li.agg(*aggs)
    rows = []
    for a, b in pairs:
        corr = (F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")) / F.sqrt(
            (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(corr, 6).alias("pearson_r"),
            )
        )
    return (
        m.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.col_a", "r.col_b", "r.pearson_r")
        .orderBy("col_a", "col_b")
    )


def pipeline_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T200 — the engine's one-row-per-metric health dashboard: corpus
    size, exact-dup rate, vocabulary size, mean doc quality, event
    volume, conversion count, and revenue total — the numbers a data
    team glances at before a run, computed as a union of the registered
    operators' own aggregates (long form, so adding metrics never
    changes the schema).

    Each leg is a tiny independent aggregate; Spark runs them as one
    job with union parallelism. Values are emitted as rounded doubles
    for schema uniformity; the oracle restates each leg in SQL.
    """
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    toks = F.filter(tokenize("text"), lambda t: t != "")

    def metric(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("metric"), F.round(F.col("v").cast("double"), 6).alias("value"))

    n_docs = metric("n_documents", docs.agg(F.count("*").alias("v")))
    # mean doc quality: t27's blended 0–1 composite, averaged corpus-wide
    q_tokens = F.size(toks).cast("long")
    q_chars = F.length("text").cast("long")
    q_punct = (
        q_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    ).cast("long")
    q_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "der", "el", "la"))
    ).cast("long")
    punct_ratio = F.when(q_chars > 0, q_punct / q_chars.cast("double")).otherwise(0.0)
    stop_ratio = F.when(q_tokens > 0, q_stop / q_tokens.cast("double")).otherwise(0.0)
    quality = metric(
        "mean_doc_quality",
        docs.select(
            (
                F.when((q_tokens >= 5) & (q_tokens <= 100000), 0.4).otherwise(0.0)
                + F.when(punct_ratio < 0.2, 0.3).otherwise(0.0)
                + F.when(stop_ratio > 0.01, 0.3).otherwise(0.0)
            ).alias("q")
        ).agg(F.avg("q").alias("v")),
    )
    dup_rate = metric(
        "exact_dup_fraction",
        docs.select(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
        .agg(
            (
                (F.count("*") - F.countDistinct("fp")).cast("double")
                / F.count("*")
            ).alias("v")
        ),
    )
    vocab = metric(
        "vocab_size",
        docs.select(F.explode(toks).alias("t")).agg(
            F.countDistinct("t").alias("v")
        ),
    )
    tokens = metric(
        "total_tokens", docs.select(F.size(toks).alias("n")).agg(F.sum("n").alias("v"))
    )
    events_n = metric("n_events", ev.agg(F.count("*").alias("v")))
    purchases = metric(
        "n_purchases",
        ev.where(F.col("event_type") == "purchase").agg(F.count("*").alias("v")),
    )
    revenue = metric(
        "total_order_revenue",
        orders.agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("v")),
    )
    return (
        n_docs.unionAll(dup_rate)
        .unionAll(vocab)
        .unionAll(tokens)
        .unionAll(quality)
        .unionAll(events_n)
        .unionAll(purchases)
        .unionAll(revenue)
        .orderBy("metric")
    )


# --------------------------------------------------------------------------
# Z-order clustering — multi-dimensional data skipping
# --------------------------------------------------------------------------

def zorder_key(normalized: list, bits: int):
    """Morton (Z-order) code from pre-normalized integer columns.

    ``normalized`` are LONG columns already scaled to ``[0, 2**bits)``;
    the result interleaves their bits (column j contributes bit i to
    output position ``i*len(cols)+j``), so rows close in EVERY dimension
    get close z-values. Pure JVM bitwise expressions (``shiftright`` /
    ``bitwiseAND`` / ``shiftleft``) — whole-stage-codegen'd, zero Python.

    Capacity: ``bits * len(normalized)`` must fit a signed LONG (≤63).
    """
    ncols = len(normalized)
    if bits * ncols > 63:
        raise ValueError(f"z-value would need {bits * ncols} bits; max 63")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, n in enumerate(normalized):
            bit = F.shiftright(n, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
    return z


def normalize_to_grid(col: str, lo: float, hi: float, bits: int):
    """Linear min/max scaling of a numeric column onto the ``2**bits``
    z-order grid (clamped; constant columns map to cell 0). Linear
    scaling is the right default for roughly uniform keys; for heavy
    skew substitute ``approx_percentile`` boundaries — the z-code
    (:func:`zorder_key`) is agnostic to how cells were assigned."""
    cells = (1 << bits) - 1
    if hi <= lo:
        return F.lit(0).cast("long")
    frac = (F.col(col).cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
    clamped = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
    return F.floor(clamped * cells).cast("long")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    num_files: int = 8,
    block_bytes: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve of
    ``cols`` — the multi-dimensional generalization of a sorted layout.

    Why it matters at 100 TB: parquet readers prune ROW GROUPS from
    column min/max statistics before reading a byte. A layout sorted on
    one column skips scans filtered on THAT column only; hive
    partitioning buys one more (coarse) dimension at the cost of
    directory explosion. Z-ordering sorts by interleaved bits of ALL
    the named columns, so every row group covers a compact hyper-cube
    of the key space and min/max pruning works for filters on ANY
    subset of the z-columns — the standard lakehouse recipe (Delta/
    Iceberg ``OPTIMIZE ZORDER BY``), built here from three Spark
    primitives with zero new machinery:

    1. one metadata-sized agg for per-column bounds (driver-held, like
       the k-means centroids — never a data-sized collect);
    2. a JVM-side Morton code (:func:`zorder_key`);
    3. ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` — the
       range exchange is sampled (no global sort barrier) and each
       output file covers a contiguous z-range.

    ``block_bytes`` caps the parquet row-group size so a file holds
    multiple independently-prunable groups (at scale the default
    128 MB group is right; tests shrink it to get a measurable
    group count from small data).
    """
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    if any(bounds[f"lo_{c}"] is None for c in cols):
        # empty input (or an all-NULL z-column): no curve to cluster on —
        # write the plain (empty) parquet instead of TypeError-ing on
        # float(None); the CLI zorder verb reaches here on arbitrary dirs
        df.write.mode("overwrite").parquet(path)
        return
    normalized = [
        normalize_to_grid(c, float(bounds[f"lo_{c}"]), float(bounds[f"hi_{c}"]), bits)
        for c in cols
    ]
    out = (
        df.withColumn("_z", zorder_key(normalized, bits))
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    writer = out.write.mode("overwrite")
    if block_bytes is not None:
        writer = writer.option("parquet.block.size", str(block_bytes))
    writer.parquet(path)


def rowgroup_skipping_audit(path: str, predicates: dict) -> dict:
    """Count parquet row groups a min/max-pruning reader must touch for
    a conjunction of range predicates ``{col: (lo, hi)}``.

    Driver-side and METADATA-only (pyarrow footer stats — the same
    information Spark's parquet reader uses to skip groups), so the
    audit itself never reads data pages; this is exactly the planning
    cost a 100 TB scan pays. Groups missing stats count as touched
    (pruning must be conservative).
    """
    import glob

    import pyarrow.parquet as pq

    total = touched = 0
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            total += 1
            hit = True
            for col, (lo, hi) in predicates.items():
                st = md.row_group(g).column(col_idx[col]).statistics
                if st is None or not st.has_min_max:
                    continue  # no stats → cannot prune this predicate
                if st.min > hi or st.max < lo:
                    hit = False
                    break
            touched += int(hit)
    return {"row_groups": total, "touched": touched}


#: fixed t224 box bounds — keys start at 1 at every sf, so the box is
#: non-vacuous from sf0.001 up while staying selective at sf0.1+
ZORDER_BOX = {"l_partkey": (1, 50), "l_suppkey": (1, 25)}


def _zordered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the once-per-corpus Z-ordered lineitem layout exists
    (:func:`io.derived_dir`) and return its path — shared by
    the row-group-pruned scan (t224) and the manifest-pruned scan
    (t227), which exercise the same layout at two pruning granularities.
    """
    return write_once(
        derived_dir("zorder_lineitem", sf_dir, "lineitem"),
        lambda path: write_zordered(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey",
                "l_partkey",
                "l_suppkey",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_returnflag",
            ),
            path,
            ["l_partkey", "l_suppkey"],
        ),
    )


def zordered_box_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T224 — scan of a Z-ordered lineitem layout under a 2-D box
    filter: revenue and volume per returnflag for
    ``l_partkey ≤ 50 AND l_suppkey ≤ 25``.

    The layout write (once per corpus version, :func:`io.derived_dir`)
    clusters lineitem on the (l_partkey, l_suppkey)
    z-curve; the query then reads it back with both range predicates
    pushed to the parquet scan, where row-group min/max pruning skips
    everything outside the box's z-range — data skipping on TWO
    dimensions from ONE layout, which neither a single-column sort nor
    one partition column can provide (measured in
    ``tests/test_zorder.py``: the z-layout touches a fraction of the
    row groups a one-column sort must read). Results are layout-
    independent — the oracle runs the same box on the unclustered
    source.
    """
    path = _zordered_lineitem_path(spark, sf_dir)
    (pk_lo, pk_hi), (sk_lo, sk_hi) = ZORDER_BOX["l_partkey"], ZORDER_BOX["l_suppkey"]
    return (
        spark.read.parquet(path)
        .where(F.col("l_partkey").between(pk_lo, pk_hi))
        .where(F.col("l_suppkey").between(sk_lo, sk_hi))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            dsum(money("l_quantity"), 4).alias("sum_qty"),
            _revenue("l_extendedprice").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


#: the day t225's corrections delta targets (present at every sf —
#: events span 2024-01) and the id offset marking late-arriving inserts
UPSERT_DAY = "2024-01-02"
#: NB: must sit ABOVE any scaled corpus's id space — make_scaled_sf.py
#: replicates events at event_id + i*10_000_000, so a 10M offset would
#: collide late-arriving inserts with replica-1's genuine rows on the
#: scaled benchmark dirs (silent replaces + intra-delta duplicate keys).
#: 1e9 clears any replica count this repo will ever build (<100).
UPSERT_INSERT_OFFSET = 1_000_000_000


def _events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical (event_id, day, value) projection of the events
    table — the pre-correction snapshot every t225-family op starts
    from."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", F.to_date("ts").alias("day"), "value"
    )


def _corrections_delta(ev: DataFrame) -> DataFrame:
    """The deterministic t225 corrections feed, derived from the source
    so every consumer (upsert, CDC diff, snapshot store) sees the exact
    same delta: on UPSERT_DAY, ``event_id % 10 = 0`` gets +1000 on
    value; ``event_id % 17 = 0`` spawns a late insert at id + 1e9."""
    src_day = ev.where(F.col("day") == F.lit(UPSERT_DAY).cast("date"))
    corrections = src_day.where(F.pmod("event_id", F.lit(10)) == 0).withColumn(
        "value", F.col("value") + 1000
    )
    inserts = src_day.where(F.pmod("event_id", F.lit(17)) == 0).select(
        (F.col("event_id") + UPSERT_INSERT_OFFSET).alias("event_id"),
        "day",
        F.lit(1.0).alias("value"),
    )
    return corrections.unionByName(inserts)


def _events_daily_upserted_path(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the day-partitioned events table exists with the t225
    corrections delta applied (once per corpus: the write and the
    upsert are one :func:`write_once` build) and return its path.
    Shared by the upsert query (t225) and the snapshot-diff CDC query
    (t226), which audits what the upsert changed."""
    from mapreduce_google_spark.io import partition_upsert

    def write(path: str) -> None:
        ev = _events_source(spark, sf_dir)
        ev.repartition("day").write.mode("overwrite").partitionBy("day").parquet(
            path
        )
        partition_upsert(spark, path, _corrections_delta(ev), "day", ["event_id"])

    # offset in the path: changing UPSERT_INSERT_OFFSET must invalidate
    # any previous process's cached table (its inserts carry old ids)
    return write_once(
        derived_dir(f"events_daily_o{UPSERT_INSERT_OFFSET}", sf_dir, "events"), write
    )


def event_corrections_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T225 — MERGE-style daily corrections into a partitioned events
    table: daily event counts and value totals AFTER upserting one day's
    corrections + late arrivals.

    The nightly-pipeline op every lakehouse needs and plain parquet
    lacks: a corrections feed replaces matching rows and appends new
    ones WITHOUT rewriting the table (``io.partition_upsert`` — dynamic
    partition overwrite scoped to the touched day; untouched partitions
    keep their files byte-identical, asserted by mtime in
    ``tests/test_upsert.py``).

    Deterministic delta, derived from the SOURCE (so the op is
    idempotent and oracle-checkable): on 2024-01-02, every event with
    ``event_id % 10 = 0`` gets its value corrected (+1000), and every
    event with ``event_id % 17 = 0`` spawns a late-arriving insert
    (id + 1e9, value 1.0). The oracle applies the same merge logic
    relationally over the unpartitioned source — layout-independent
    results, layout-dependent cost.
    """
    path = _events_daily_upserted_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Snapshot diff (CDC), manifest file pruning, versioned time travel
# --------------------------------------------------------------------------

def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    carry_old: tuple = (),
    carry_new: tuple = (),
) -> DataFrame:
    """Row-level change-data-capture between two snapshots of a keyed
    table: one row per key with ``change_type`` ∈ insert / delete /
    update / unchanged.

    Scale shape: each side is first reduced to (key, 64-bit ``xxhash64``
    fingerprint of ``compare_cols``, requested carry columns) — so the
    single full-outer shuffle join on the key moves key + 8 bytes + the
    carries, never the full row width; a 100-column table diffs at the
    cost of a 2-column one. Classification is pure null-ness + 
    fingerprint equality (JVM, codegen'd). If both snapshots are stored
    bucketed on the key (``io.adopt_or_build_bucketed_table``) the join
    is exchange-free on top.

    Caveats, by construction of the fingerprint: a 1/2^64 hash collision
    reports a changed row as unchanged, and ``xxhash64`` skips NULL
    inputs, so rows differing only in WHICH of two columns is NULL can
    collide — exact enough for table auditing, not for cryptographic
    integrity.
    """
    o = old.select(
        *key_cols,
        F.xxhash64(*compare_cols).alias("_fp_old"),
        *[F.col(c).alias(f"old_{c}") for c in carry_old],
    )
    n = new.select(
        *key_cols,
        F.xxhash64(*compare_cols).alias("_fp_new"),
        *[F.col(c).alias(f"new_{c}") for c in carry_new],
    )
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("insert"))
        .when(F.col("_fp_new").isNull(), F.lit("delete"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, list(key_cols), "full_outer")
        .withColumn("change_type", change)
        .drop("_fp_old", "_fp_new")
    )


def event_change_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T226 — CDC audit of what the t225 upsert changed: per
    change_type, row count and net value delta between the source
    events snapshot and the corrected daily table.

    Runs :func:`snapshot_diff` (fingerprint-reduced full-outer join on
    event_id) with the pre-correction source as *old* and the upserted
    parquet table as *new* — the nightly "what did the merge actually
    do" report. Expected shape on this delta: inserts = the late
    arrivals (net +1.0 each), updates = the +1000 corrections,
    everything else unchanged (net 0), zero deletes. The oracle derives
    the same delta relationally and full-outer-joins base vs merged —
    layout- and fingerprint-independent.
    """
    path = _events_daily_upserted_path(spark, sf_dir)
    old = _events_source(spark, sf_dir)
    new = spark.read.parquet(path).select("event_id", "day", "value")
    diff = snapshot_diff(
        old,
        new,
        ["event_id"],
        ["day", "value"],
        carry_old=("value",),
        carry_new=("value",),
    )
    delta = F.coalesce(F.col("new_value"), F.lit(0.0)) - F.coalesce(
        F.col("old_value"), F.lit(0.0)
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(
                F.sum(delta.cast("decimal(14,2)")).cast("double"), 6
            ).alias("value_delta"),
        )
        .orderBy("change_type")
    )


#: t227 box — different from ZORDER_BOX so the two pruning grains are
#: probed on different regions; suppkey range is inside [1,10] so the
#: box is non-vacuous even at sf0.001 (10 suppliers)
MANIFEST_BOX = {"l_partkey": (20, 120), "l_suppkey": (3, 9)}


def pruned_file_list(path: str, predicates: dict) -> tuple[list[str], int]:
    """File-level zone-map pruning: return (files a conjunction of range
    predicates ``{col: (lo, hi)}`` could match, total file count).

    The manifest is read from parquet FOOTERS (pyarrow, metadata-only —
    no data pages), taking each file's per-column min/max as the
    envelope of its row groups; files lacking stats are kept
    (conservative). This is the Iceberg/Delta manifest trick scaled
    down: Spark's own reader prunes row groups but still has to open
    every footer at plan time — at 100 TB / millions of files a
    persisted manifest turns scan planning from O(files) footer reads
    into one metadata-table lookup, and pairs with the Z-order layout
    (:func:`write_zordered`) whose compact per-file envelopes are what
    make file-grain skipping effective.
    """
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    keep = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        hit = True
        for col, (lo, hi) in predicates.items():
            fmin = fmax = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col_idx[col]).statistics
                if st is None or not st.has_min_max:
                    fmin = fmax = None
                    break  # a stats-less group makes the file unprunable
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            if fmin is None:
                continue  # no stats → keep (conservative)
            if fmin > hi or fmax < lo:
                hit = False
                break
        if hit:
            keep.append(f)
    return keep, len(files)


def manifest_pruned_box_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T227 — the t224 box scan at FILE granularity: revenue per
    returnflag for a 2-D box, reading ONLY the parquet files whose
    footer min/max envelope overlaps the box
    (:func:`pruned_file_list` over the shared Z-ordered layout).

    Pruning is conservative (a skipped file provably contains no
    matching row; kept files are re-filtered by the pushed-down
    predicates), so the result is layout- and pruning-independent — the
    oracle runs the same box on the unclustered source. The file-count
    reduction itself is asserted in ``tests/test_zorder.py``, and the
    plan goes through the PERSISTED incrementally-refreshed manifest
    (:func:`pruned_files_from_manifest`) — footer walk only for files
    the manifest has never seen (equality with the raw walk is tested
    in ``tests/test_snapshots.py``).
    """
    path = _zordered_lineitem_path(spark, sf_dir)
    (pk_lo, pk_hi) = MANIFEST_BOX["l_partkey"]
    (sk_lo, sk_hi) = MANIFEST_BOX["l_suppkey"]
    files, _total = pruned_files_from_manifest(
        spark, path, {"l_partkey": (pk_lo, pk_hi), "l_suppkey": (sk_lo, sk_hi)}
    )
    # the composed pruned read: empty pruning → schema-only empty frame
    # (never a whole-table fallback scan), and any _deletes sidecar is
    # applied so merge-on-read deletes never resurrect through pruning
    from mapreduce_google_spark.io import read_files_with_deletes

    src = read_files_with_deletes(spark, path, files)
    return (
        src.where(F.col("l_partkey").between(pk_lo, pk_hi))
        .where(F.col("l_suppkey").between(sk_lo, sk_hi))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            dsum(money("l_quantity"), 4).alias("sum_qty"),
            _revenue("l_extendedprice").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


def _events_snapshot_root(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the two-version events snapshot chain exists (v1 = as
    ingested, v2 = after the t225 corrections merge) and return its
    root. Shared by time travel (t228) and cross-snapshot IVM (t239).
    Both versions are published in one :func:`write_once` build, so a
    run that dies after v1 leaves the chain uncommitted and the next
    one republishes it from an empty root."""
    from mapreduce_google_spark.io import versioned_write

    def write(root: str) -> None:
        ev = _events_source(spark, sf_dir)
        delta = _corrections_delta(ev)
        versioned_write(ev, root)  # v1: as ingested
        versioned_write(  # v2: after corrections
            ev.join(delta.select("event_id"), ["event_id"], "left_anti").unionByName(
                delta
            ),
            root,
        )

    return write_once(
        derived_dir(f"events_snapshots_o{UPSERT_INSERT_OFFSET}", sf_dir, "events"),
        write,
    )


def snapshot_version_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T228 — time travel over a versioned table: totals per retained
    snapshot version of the daily events table (v1 = as ingested, v2 =
    after the t225 corrections merge).

    The snapshot store (``io.versioned_write`` / ``io.read_snapshot``)
    keeps each version as an immutable ``v=N`` directory published by an
    atomic manifest swap — Delta/Iceberg time travel reduced to its two
    load-bearing properties (immutable data files + tiny commit
    metadata), so "query yesterday's table" is a manifest lookup, never
    a restore. Readers pin a version; writers never mutate published
    files — at 100 TB that's what makes concurrent backfill + serving
    safe. Oracle: v1 totals from the raw source, v2 totals from the
    relationally-derived merge.
    """
    from mapreduce_google_spark.io import list_versions, read_snapshot

    root = _events_snapshot_root(spark, sf_dir)
    frames = []
    for v in list_versions(root)[:2]:
        frames.append(
            read_snapshot(spark, root, version=v)
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 6
                ).alias("sum_value"),
            )
            .select(
                F.lit(v).cast("long").alias("version"), "n_events", "sum_value"
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("version")


def refresh_file_manifest(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Build or INCREMENTALLY refresh the persisted zone-map manifest of
    the parquet table at ``path``: one row per data file with per-column
    min/max envelopes, stored as parquet under ``<path>/_manifest``.
    Returns the refreshed manifest DataFrame.

    This is the piece that turns :func:`pruned_file_list`'s O(files)
    footer walk into a metadata-table lookup — the Iceberg/Delta
    manifest made from Spark primitives. Refresh cost is proportional to
    NEW files only: already-manifested files are never re-opened (their
    footer stats are immutable — parquet files don't change, they get
    replaced under new names). A vanished file's row is dropped
    relationally. At 100 TB the manifest itself is a small parquet table
    (one row per file), scanned in milliseconds where a raw listing +
    footer fetch of 10^6 objects costs minutes of store round-trips.

    Stats-less columns are stored as NULL envelopes; the pruning
    consumer (:func:`pruned_files_from_manifest`) keeps NULL-envelope
    files — same conservative contract as the footer walk.

    Concurrency contract (weaker than the point index's lock, by
    design): the steady-state call never writes; a MUTATING refresh is
    a full rewrite from the writer's own file listing, so concurrent
    mutating refreshes are last-writer-wins and self-heal on the next
    refresh (a missing row is re-added from the footer walk) — but a
    reader overlapping a rewrite can transiently fail (overwrite is
    delete-then-write), and interleaved part-files from two writers can
    leave duplicate rows until the next rewrite. The pruning consumer
    therefore deduplicates file paths defensively; single-writer per
    table remains the recommended operating mode (the index lock exists
    because ITS sidecar+segments cannot self-heal — this one can).
    """
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    mdir = os.path.join(path, "_manifest")
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))

    def _stat_sql_type(col: str) -> str:
        """Spark SQL type of the min/max envelope for ``col``, derived
        from the parquet schema (not hardcoded long — ADVICE r7): the
        envelope must round-trip the footer-stat values exactly, or
        pruning could silently drop files."""
        if not files:
            return "long"  # empty table: schema unknowable, never read
        field = pq.ParquetFile(files[0]).schema_arrow.field(col)
        t = field.type
        if pa.types.is_integer(t):
            return "long"
        if pa.types.is_floating(t):
            return "double"
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_date(t):
            return "date"
        if pa.types.is_timestamp(t):
            return "timestamp"
        raise ValueError(
            f"manifest stats column {col!r} has unsupported type {t} — "
            "supported: integer, float, decimal, string, date, timestamp"
        )

    # validate/resolve envelope types up front — fail with the clear
    # unsupported-type error before any per-file stats walk (a nested
    # column would otherwise KeyError on parquet's flattened leaf names)
    stat_types = {c: _stat_sql_type(c) for c in cols}
    known: set[str] = set()
    have_manifest = os.path.exists(os.path.join(mdir, "_SUCCESS"))
    if have_manifest:
        known = {
            r["file"]
            for r in spark.read.parquet(mdir).select("file").collect()
        }
    rows = []
    for f in files:
        if f in known:
            continue
        md = pq.ParquetFile(f).metadata
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        row: dict = {"file": f}
        for col in cols:
            fmin = fmax = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col_idx[col]).statistics
                if st is None or not st.has_min_max:
                    fmin = fmax = None
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            row[f"min_{col}"] = fmin
            row[f"max_{col}"] = fmax
        rows.append(row)
    schema = "file string, " + ", ".join(
        f"min_{c} {stat_types[c]}, max_{c} {stat_types[c]}" for c in cols
    )
    fresh = spark.createDataFrame(rows, schema) if rows else None
    if have_manifest and not rows and known == set(files):
        # nothing new, nothing vanished — the common steady-state call;
        # do NOT rewrite (a no-change rewrite churns the store and races
        # concurrent readers for no reason)
        return spark.read.parquet(mdir)
    if have_manifest:
        # drop vanished files via a semi-join against the live listing —
        # an isin() literal list would compile a million-branch
        # expression at real file counts
        live = spark.createDataFrame([(f,) for f in files], "file string")
        prev = spark.read.parquet(mdir).join(live, "file", "left_semi")
        manifest = prev.unionByName(fresh) if fresh is not None else prev
    else:
        manifest = fresh if fresh is not None else spark.createDataFrame([], schema)
    # rewrite via a localCheckpoint so the new manifest doesn't read
    # from the files it is about to overwrite
    manifest.localCheckpoint().coalesce(1).write.mode("overwrite").parquet(mdir)
    return spark.read.parquet(mdir)


def pruned_files_from_manifest(
    spark: SparkSession, path: str, predicates: dict
) -> tuple[list[str], int]:
    """The manifest-table form of :func:`pruned_file_list`: answer
    "which files could a conjunction of range predicates touch" from
    the persisted ``_manifest`` parquet (refreshing it incrementally
    first), never opening a data-file footer at plan time. NULL
    envelopes (stats-less files) are conservatively kept."""
    manifest = refresh_file_manifest(spark, path, list(predicates))
    cond = F.lit(True)
    for col, (lo, hi) in predicates.items():
        keep = (
            F.col(f"min_{col}").isNull()
            | ~((F.col(f"min_{col}") > hi) | (F.col(f"max_{col}") < lo))
        )
        cond = cond & keep
    # distinct on BOTH counts: a manifest carrying duplicate rows for a
    # file (torn/raced rewrite) must never surface the same path twice —
    # spark.read.parquet(*files) reads a repeated path TWICE, silently
    # doubling that file's rows in whatever query consumed the pruning
    total = manifest.select("file").distinct().count()
    files = {
        r["file"] for r in manifest.where(cond).select("file").collect()
    }
    return sorted(files), total


#: the day t231's GDPR-style delete targets (distinct from UPSERT_DAY so
#: the DML verbs are probed on different partitions)
DV_DELETE_DAY = "2024-01-03"


def events_after_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T231 — merge-on-read DELETE via deletion vectors: daily event
    totals AFTER deleting ``event_id % 13 = 0`` on one day — without
    rewriting any data file.

    The GDPR/takedown verb that completes the DML triad (insert/update =
    t225's MERGE): ``io.delete_where`` records matching (file,
    row_index) coordinates in a ``_deletes`` sidecar — Spark's
    ``_metadata`` struct supplies both — and ``io.read_with_deletes``
    anti-joins the broadcast-sized sidecar at scan time. At 100 TB the
    delete touches zero data bytes; the cost moves to a periodic
    ``io.apply_deletes`` compaction that rewrites only the files the
    sidecar references (tested in ``tests/test_deletes.py``). Oracle:
    the same predicate as a plain ``WHERE NOT`` over the source —
    sidecar-independent results.
    """
    from mapreduce_google_spark.io import delete_where, read_with_deletes

    def write(path: str) -> None:
        _events_source(spark, sf_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(path)
        delete_where(
            spark,
            path,
            (F.col("day") == F.lit(DV_DELETE_DAY).cast("date"))
            & (F.pmod("event_id", F.lit(13)) == 0),
        )

    path = write_once(derived_dir("events_dv", sf_dir, "events"), write)
    return (
        read_with_deletes(spark, path)
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .orderBy("day")
    )


def rolling_distinct_users_hll(
    spark: SparkSession, sf_dir: str, window_days: int = 7
) -> DataFrame:
    """T232 — mergeable-sketch table: per-day HLL sketches of user_id,
    persisted once and UNIONED across a rolling window — with the
    estimate verified against the exact count in the same output.

    The pattern that makes "distinct users over any date range" an O(1)
    metadata query at 100 TB: a daily job appends ONE row (day, binary
    HLL sketch — a few KB) to the sketch table; any window's distinct
    count is then ``hll_union_agg`` over the relevant rows, never a
    re-scan of the events. (Exact rolling distincts can't be maintained
    incrementally at all — distinct is not additive across days; the
    sketch IS the additive form.) Spark 4's Apache DataSketches
    functions (``hll_sketch_agg`` / ``hll_union_agg`` /
    ``hll_sketch_estimate``) do the heavy lifting.

    Output per day: the EXACT windowed distinct (computed here by brute
    force — affordable at test scale, the thing you can't do at 100 TB)
    and ``hll_within_5pct`` comparing the sketch estimate against it
    (default lgConfigK=12 → ~0.8% rse, so 5% is a hard invariant, not a
    hope). The oracle re-derives the exact side and pins the invariant
    TRUE — the invariant-oracle pattern of t164/t165, here folded into
    the op itself.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    path = write_once(
        derived_dir("hll_daily", sf_dir, "events"),
        ev.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet,
    )
    sketches = spark.read.parquet(path)
    days = sketches.select("day").distinct()
    lo = F.date_sub(days.day, window_days - 1)
    windowed = days.join(
        F.broadcast(sketches.select(F.col("day").alias("sday"), "sketch")),
        (F.col("sday") >= lo) & (F.col("sday") <= days.day),
    )
    est = (
        windowed.groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n_est")
        )
    )
    du = ev.distinct()
    exact = (
        days.join(
            du.select(F.col("day").alias("uday"), "user_id"),
            (F.col("uday") >= lo) & (F.col("uday") <= days.day),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return (
        exact.join(est, "day")
        .select(
            "day",
            "n_exact",
            (
                F.abs(F.col("n_est") - F.col("n_exact"))
                <= F.col("n_exact") * 0.05
            ).alias("hll_within_5pct"),
        )
        .orderBy("day")
    )


#: t233's two comparison weeks (events span 2024-01 at every sf)
THETA_WEEK1 = ("2024-01-01", "2024-01-07")
THETA_WEEK2 = ("2024-01-08", "2024-01-14")


def weekly_retention_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T233 — set algebra on sketches: week-over-week retained / churned
    / new users via Theta sketch intersection and difference, verified
    against the exact sets in the same output.

    Theta sketches are the mergeable form that supports INTERSECTION and
    DIFFERENCE — the operations HLL (t232) structurally cannot do — so
    "users active in both weeks" over 100 TB is sketch-algebra over two
    KB-sized summaries instead of a distinct-join of two full scans.
    Below ~4096 distinct keys (the default k) a theta sketch stores the
    actual hash set, so the estimates here are EXACT at test scale and
    ~1.6% rse beyond it; the output pins them within
    max(5%, ±2) of the exact segment counts computed alongside (one
    conditional aggregation per user — the thing that stops being
    affordable at 100 TB). Oracle re-derives the exact segments and the
    invariant.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    in1 = F.col("day").between(*THETA_WEEK1)
    in2 = F.col("day").between(*THETA_WEEK2)
    sk = ev.agg(
        F.theta_sketch_agg(F.when(in1, F.col("user_id"))).alias("s1"),
        F.theta_sketch_agg(F.when(in2, F.col("user_id"))).alias("s2"),
    )
    est = sk.select(
        F.theta_sketch_estimate(F.theta_intersection("s1", "s2")).alias(
            "est_retained"
        ),
        F.theta_sketch_estimate(F.theta_difference("s1", "s2")).alias(
            "est_churned"
        ),
        F.theta_sketch_estimate(F.theta_difference("s2", "s1")).alias("est_new"),
    )
    flags = ev.groupBy("user_id").agg(
        F.max(in1.cast("int")).alias("in1"), F.max(in2.cast("int")).alias("in2")
    )
    exact = flags.agg(
        F.sum(((F.col("in1") == 1) & (F.col("in2") == 1)).cast("long")).alias(
            "x_retained"
        ),
        F.sum(((F.col("in1") == 1) & (F.col("in2") == 0)).cast("long")).alias(
            "x_churned"
        ),
        F.sum(((F.col("in1") == 0) & (F.col("in2") == 1)).cast("long")).alias(
            "x_new"
        ),
    )

    def ok(seg: str):
        slack = F.greatest(F.col(f"x_{seg}") * 0.05, F.lit(2.0))
        return (F.abs(F.col(f"est_{seg}") - F.col(f"x_{seg}")) <= slack).alias(
            f"ok_{seg}"
        )

    joined = exact.crossJoin(F.broadcast(est)).select(
        "x_retained", "x_churned", "x_new",
        ok("retained"), ok("churned"), ok("new"),
    )
    return (
        joined.selectExpr(
            "stack(3, 'churned', x_churned, ok_churned, "
            "'new', x_new, ok_new, "
            "'retained', x_retained, ok_retained) "
            "AS (segment, n_exact, theta_within_bounds)"
        )
        .orderBy("segment")
    )


#: t234 quantiles probed against the merged KLL sketch
KLL_QUANTILES = (0.5, 0.9, 0.99)


def order_price_quantiles_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T234 — mergeable quantile sketches: global p50/p90/p99 of order
    totals from per-month KLL sketches merged together, rank-verified
    against the full dataset.

    Quantiles, like distincts, are not additive — a global median can't
    be combined from per-partition medians. The KLL sketch is the
    mergeable form (DataSketches ``kll_sketch_agg_double`` /
    ``kll_sketch_merge_double``): each month keeps a KB-sized sketch,
    and any period's quantiles come from merging sketch rows, never
    re-scanning orders. KLL guarantees bounded RANK error (~1.65% at
    the default k=200), not value error, so the invariant here is the
    right one: the exact rank of each sketch-estimated value must lie
    within ±2.5% of the target quantile. The exact interpolated
    percentile (the non-mergeable computation) is produced alongside
    for the oracle; per-query determinism follows the t35 recipe
    (cast to double, round 6).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.month("o_orderdate").alias("m"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    monthly = o.groupBy("m").agg(
        F.kll_sketch_agg_double("price").alias("sk")
    )
    # kll_sketch_merge_double is a BINARY scalar (no aggregate form in
    # Spark 4.1) — fold the dozen monthly sketches with an array reduce;
    # the collect_list row is months-sized, i.e. metadata
    merged = monthly.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(
            "aggregate(slice(sks, 2, size(sks) - 1), sks[0], "
            "(acc, x) -> kll_sketch_merge_double(acc, x))"
        ).alias("sk")
    )
    est = merged.select(
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(q)).alias(f"v_{i}")
            for i, q in enumerate(KLL_QUANTILES)
        ]
    )
    stats = o.crossJoin(F.broadcast(est)).agg(
        F.count("*").cast("double").alias("n"),
        *[
            F.sum((F.col("price") <= F.col(f"v_{i}")).cast("long"))
            .cast("double")
            .alias(f"le_{i}")
            for i in range(len(KLL_QUANTILES))
        ],
        *[
            F.round(
                F.expr(f"percentile(price, {q})").cast("double"), 6
            ).alias(f"x_{i}")
            for i, q in enumerate(KLL_QUANTILES)
        ],
    )
    parts = []
    for i, q in enumerate(KLL_QUANTILES):
        parts.append(
            f"{q}D, x_{i}, abs(le_{i} / n - {q}D) <= 0.025D"
        )
    return (
        stats.selectExpr(
            "stack(3, " + ", ".join(parts) + ") "
            "AS (q, exact_value, kll_rank_within_bounds)"
        )
        .orderBy("q")
    )


def quantile_grid_cells(
    df: DataFrame, col: str, bits: int, rel_err: float = 0.001
):
    """Skew-proof alternative to :func:`normalize_to_grid`: map a
    numeric column onto the ``2**bits`` z-order grid by QUANTILE rank
    instead of linear min/max scaling.

    Linear scaling collapses under skew — with a heavy-tailed key,
    most rows land in a handful of low cells and the z-curve degrades
    to a single-column sort on the other dimensions. Quantile
    boundaries (one ``approx_percentile`` pass, driver-held — ~2^bits
    doubles, metadata-sized like the k-means centroids) give every
    cell an equal share of ROWS, so row groups stay balanced and
    min/max pruning keeps its selectivity whatever the distribution.
    Returns (cell_column, boundaries); feed the cell column to
    :func:`zorder_key` — the z-code is agnostic to how cells were
    assigned. Ties across a boundary share a cell (coarser, never
    wrong — pruning stays conservative).
    """
    cells = 1 << bits
    qs = [i / cells for i in range(1, cells)]
    bounds = df.agg(
        F.expr(
            f"approx_percentile({col}, array({', '.join(map(str, qs))}), "
            f"{int(1 / rel_err)})"
        ).alias("b")
    ).first()["b"]
    expr = F.lit(0).cast("long")
    for b in bounds:
        expr = expr + (F.col(col) > F.lit(float(b))).cast("long")
    return expr, bounds


def write_zordered_by_quantiles(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int = 8,
    block_bytes: int | None = None,
) -> None:
    """:func:`write_zordered` with quantile-grid cell assignment per
    column — the variant to reach for when any clustered key is skewed
    (the docstring recipe of :func:`normalize_to_grid`, as code).
    ``bits`` defaults lower (8 → 256 cells/dim) because each boundary
    list is computed by one ``approx_percentile`` pass and held on the
    driver."""
    assigned = [quantile_grid_cells(df, c, bits)[0] for c in cols]
    out = (
        df.withColumn("_z", zorder_key(assigned, bits))
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    writer = out.write.mode("overwrite")
    if block_bytes is not None:
        writer = writer.option("parquet.block.size", str(block_bytes))
    writer.parquet(path)


# --------------------------------------------------------------------------
# Secondary point-lookup index — posting table on plain parquet
# --------------------------------------------------------------------------

#: the fixed t237 probe ids — all < 1000 so they exist at every sf
POINT_LOOKUP_IDS: tuple[int, ...] = (17, 230, 452, 671, 888, 903)


#: source-table bytes each range-partitioned index file covers. The
#: posting table is two narrow columns, so 256 MiB of source data maps
#: to well under 64 MiB of postings per index file — small enough to
#: sort in one task's memory, large enough that a 100 TB table yields
#: ~400k index files rather than millions. Overridable per call for
#: tests and unusual key widths.
INDEX_SRC_BYTES_PER_PARTITION = 256 * 1024 * 1024


#: full-compaction trigger for the LSM point index: once a refresh would
#: create this many delta segments, merge them all into one sorted
#: range-partitioned generation instead (VERDICT r9 item 2 — the
#: rewrite-the-world refresh is now the RARE path, amortized 1/N).
INDEX_COMPACT_SEGMENTS = 8

#: above this many probe keys, point_lookup switches from isin()
#: literals (one codegen branch per key) to a broadcast semi-join
#: against a keys DataFrame — the batched-lookup path. Set from the
#: measured crossover at the 10x corpus (batched-lookup crossover
#: bench, n=3 medians): isin wins up to ~500 keys (0.8–1.3s vs a
#: flat ~1.2–1.3s semi-join), then degrades linearly with expression
#: size (1.7s @1k, 2.6s @2k) while the semi-join stays flat.
POINT_LOOKUP_ISIN_MAX = 500

#: in the DataFrame probe path, key sets at or under this measured
#: distinct count are broadcast to the semi-joins (~16 MB at the cap);
#: past it the join shuffles — tens of millions of probe keys must not
#: be shipped to every executor.
POINT_LOOKUP_BROADCAST_MAX = 1_000_000


class ConcurrentRefreshError(RuntimeError):
    """A second ``refresh_point_index`` writer raced an in-flight one.

    The LSM refresh mutates two things non-atomically — index segment
    files and the ``_covered_files.json`` sidecar — so two concurrent
    writers can under-count segments (last-writer-wins on the sidecar)
    and leave a double-appended segment uncompacted. The refresh is
    therefore single-writer by contract, enforced with
    :func:`io.exclusive` on a lock file beside the index dir (VERDICT
    r10 item 6). Concurrent LOOKUPS are unaffected: the steady-state
    no-op refresh never takes the lock."""


def _read_covered_sidecar(idx_dir: str, flist: str) -> tuple[set, int]:
    """(covered source files, segment count) from the tiny sidecar —
    NOT a scan of the posting table (the no-op refresh is on every
    lookup's path). An index without a dict-format sidecar counts as
    unbuilt (no covered files), so the refresh takes the compact path
    and rebuilds it."""
    import json as _json

    if not os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        return set(), 0
    try:
        with open(flist) as fh:
            sidecar = _json.load(fh)
    except FileNotFoundError:
        return set(), 0
    if not isinstance(sidecar, dict):
        return set(), 0
    return set(sidecar["covered"]), sidecar["segments"]


def refresh_point_index(
    spark: SparkSession,
    path: str,
    key_col: str,
    index_partitions: int | None = None,
) -> str:
    """Build or INCREMENTALLY refresh the persisted secondary index of
    the parquet table at ``path`` on ``key_col``: a posting table of
    (key, file) pairs under ``<path>/_pointidx_<key_col>``, written as
    LSM-style sorted DELTA SEGMENTS so index probes prune at two
    levels — whole index files via the index's own zone-map manifest,
    then row groups within the admitted files via min/max stats.
    Returns the index directory.

    This is the needle-query complement of the zone-map manifest
    (:func:`refresh_file_manifest`): min/max envelopes only skip files
    when the key is CLUSTERED — on a hash-scattered key every file's
    envelope spans the whole domain and zone maps prune nothing, while
    the posting table answers "which files hold key k" exactly. The
    index is O(distinct (key, file)) rows but only two columns wide;
    at 100 TB it is the classic secondary-index trade — pay one narrow
    sorted table to turn a needle query from a full scan into
    |files(k)| reads.

    Refresh is LSM-shaped (VERDICT r9 item 2 — the previous refresh
    re-sorted and rewrote the WHOLE merged index per new source file):

    * **append** (the common path): when source files were only ADDED,
      the fresh postings are written as their own sorted
      range-partitioned segment — ``mode("append")`` into the index
      dir; no pre-existing index byte is rewritten
      (``tests/test_point_index.py::test_append_refresh_rewrites_no_prior_index_file``).
      Cost: O(new postings) scan + sort, exactly the docstring contract.
    * **compact** (the rare path): on first build, when source files
      VANISHED (replaced by source compaction — their postings must
      drop), or when the segment count would pass
      :data:`INDEX_COMPACT_SEGMENTS`, all live postings are merged into
      one sorted generation (``mode("overwrite")``), resetting the
      segment count. Under continuous ingest the O(index) rewrite is
      paid once per :data:`INDEX_COMPACT_SEGMENTS` refreshes, not per
      refresh. Vanished files route through the merge deliberately: a
      tombstone sidecar could defer it, but the only event that
      vanishes files is a source rewrite (compaction/GDPR apply), which
      already paid O(source) — the index merge (two narrow columns, a
      small fraction of source bytes) rides on it without changing the
      event's asymptotic cost, and skipping tombstones keeps lookup
      exactness independent of a second metadata structure.

    Probes see one layout either way: every segment is
    ``repartitionByRange(N, key)`` + sort-within (N scales with the
    segment's source bytes — :data:`INDEX_SRC_BYTES_PER_PARTITION`,
    override via ``index_partitions``), so key envelopes are disjoint
    WITHIN a segment and the index manifest admits at most one index
    file per segment per probe; row-group stats prune inside those.
    Segment count is tracked in the ``_covered_files.json`` sidecar; an
    index without a dict-format sidecar is rebuilt by the compact path.

    **Single-writer contract**: segment files and the sidecar mutate
    non-atomically, so concurrent refreshes could under-count segments
    (last sidecar writer wins) and strand a duplicate segment until the
    next compaction. Mutating refreshes therefore try
    :func:`io.exclusive` on ``<idx_dir>.refresh.lock``, BESIDE the
    index dir (compaction's ``mode("overwrite")`` clears the dir
    itself); a second writer fails fast with
    :class:`ConcurrentRefreshError`, and a crashed writer's lock died
    with its process. The steady-state no-op refresh — every lookup's
    path — never takes the lock, so concurrent readers never contend.
    """
    import glob

    idx_dir = os.path.join(path, f"_pointidx_{key_col}")
    if glob.glob(os.path.join(path, "*=*/")):
        raise ValueError(
            f"point index targets flat (unpartitioned) parquet dirs; {path} "
            "is hive-partitioned — reading posted leaf files directly would "
            "drop the partition columns. Use partition pruning + the zone-map "
            "manifest there, or index an unpartitioned copy."
        )
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        # an empty table would short-circuit the steady-state branch and
        # return a dir that was never created — the CLI then dies with an
        # opaque AnalysisException reading it (ADVICE r8). Fail clearly.
        raise ValueError(
            f"no parquet files to index at {path} — refresh_point_index "
            "needs at least one data file"
        )
    # steady-state check from the tiny covered-files sidecar, NOT a scan
    # of the posting table (the no-op refresh is on every lookup's path —
    # at corpus scale an O(postings) "what do I cover" scan per probe
    # would swamp the lookup itself)
    flist = os.path.join(idx_dir, "_covered_files.json")
    known, segments = _read_covered_sidecar(idx_dir, flist)
    new = [f for f in files if f not in known]
    vanished = known - set(files)
    if not new and not vanished:
        # steady state — but a crash between the sidecar swap and the
        # manifest refresh leaves the manifest missing; build it here
        # (cheap _SUCCESS check) so the footer walk lands on the refresh
        # path, never inside a probe (ADVICE r9)
        if not os.path.exists(os.path.join(idx_dir, "_manifest", "_SUCCESS")):
            refresh_file_manifest(spark, idx_dir, ["key"])
        return idx_dir
    # mutation needed → single-writer gate (lock-free up to here, so
    # concurrent steady-state lookups never contend). Re-derive the
    # sidecar state UNDER the lock: a writer that finished just before
    # we took it may have covered our files already, and re-appending
    # them would duplicate a whole segment.
    lock = idx_dir.rstrip("/") + ".refresh.lock"
    with contextlib.ExitStack() as held:
        try:
            held.enter_context(exclusive(lock, 0))
        except TimeoutError:
            raise ConcurrentRefreshError(
                f"refresh_point_index is single-writer: {lock} is held by "
                "another writer"
            ) from None
        known, segments = _read_covered_sidecar(idx_dir, flist)
        new = [f for f in files if f not in known]
        vanished = known - set(files)
        if not new and not vanished:
            return idx_dir  # the racing writer did our work
        return _refresh_point_index_locked(
            spark, idx_dir, flist, files, new, vanished, known, segments,
            key_col, index_partitions,
        )


def _refresh_point_index_locked(
    spark: SparkSession,
    idx_dir: str,
    flist: str,
    files: list,
    new: list,
    vanished: set,
    known: set,
    segments: int,
    key_col: str,
    index_partitions: int | None,
) -> str:
    """The mutation half of :func:`refresh_point_index` — caller holds
    the single-writer refresh lock."""
    import json as _json

    fresh = (
        spark.read.parquet(*new)
        .select(
            F.col(key_col).alias("key"),
            # strip the reader's "file:" URI prefix so postings compare
            # equal to the directory listing (the covered-files sidecar
            # and the vanished-files semi-join both join on this value;
            # a prefix mismatch would silently rebuild the whole index
            # on every refresh — the pre-r8 bug this normalizes away)
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:", ""
            ).alias("file"),
        )
        .distinct()
        if new
        else None
    )
    compact = (
        not known  # first build
        or bool(vanished)  # replaced source files: postings must drop
        or segments + 1 > INDEX_COMPACT_SEGMENTS  # segment budget exhausted
    )
    if not compact:
        # APPEND path: the fresh postings become their own sorted
        # range-partitioned delta segment; no pre-existing index byte is
        # touched. N scales with the NEW source bytes only.
        n_parts = index_partitions or max(
            1,
            -(-sum(os.path.getsize(f) for f in new) // INDEX_SRC_BYTES_PER_PARTITION),
        )
        (
            fresh.repartitionByRange(n_parts, "key")
            .sortWithinPartitions("key")
            .write.mode("append")
            .option("parquet.block.size", str(1 * 1024 * 1024))
            .parquet(idx_dir)
        )
        segments += 1
    else:
        if known:
            live = spark.createDataFrame([(f,) for f in files], "file string")
            prev = (
                spark.read.parquet(idx_dir)
                .join(live, "file", "left_semi")  # drop vanished postings
            )
            merged = prev.unionByName(fresh) if fresh is not None else prev
            # heal torn appends: a crash between a segment append and its
            # sidecar update re-appends the same postings on the next
            # refresh — harmless to lookups (posted files are read
            # distinct and re-filtered) but compaction is where the
            # duplicates die (tests/test_point_index.py::test_torn_append_heals)
            merged = merged.distinct()
        else:
            merged = fresh
        # COMPACT path — one sorted generation: N parallel sort+write
        # tasks (no single-task funnel), disjoint key envelopes per index
        # file so the manifest below prunes probes to one file, then
        # row-group stats prune within it
        n_parts = index_partitions or max(
            1,
            -(
                -sum(os.path.getsize(f) for f in files)
                // INDEX_SRC_BYTES_PER_PARTITION
            ),
        )
        (
            merged.localCheckpoint()  # don't read from the dir being replaced
            .repartitionByRange(n_parts, "key")
            .sortWithinPartitions("key")
            .write.mode("overwrite")
            # small row groups: a key probe on the sorted index must prune
            # to a handful of groups via min/max stats, not scan every
            # posting
            .option("parquet.block.size", str(1 * 1024 * 1024))
            .parquet(idx_dir)
        )
        segments = 1
    # atomic sidecar swap (ADVICE r11): lock-free steady-state LOOKUPS
    # read this file without taking the refresh lock, so an in-place
    # rewrite could hand them a truncated/empty JSON mid-write — temp
    # file + os.replace gives every reader either the old or the new
    # sidecar, never a torn one (same pattern as the versions manifest)
    tmp = f"{flist}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        _json.dump({"covered": sorted(files), "segments": segments}, fh)
    os.replace(tmp, flist)
    # zone-map manifest ON the index itself — refreshed here (the write
    # path pays the footer walk, incremental: appended segments add only
    # their own files' rows) so steady-state lookups get index-file
    # pruning from a cached metadata table
    refresh_file_manifest(spark, idx_dir, ["key"])
    return idx_dir


def _coerce_probe_keys(dtype, keys: list) -> list:
    """Normalize probe keys to the key column's Spark type before they
    reach the manifest's min()/max() range and the isin() filters
    (ADVICE r9): the CLI's int-when-it-parses fallback can hand a mixed
    [str, int] list — min() on it raises TypeError — and an int probed
    against a string column makes the envelope comparisons NULL, so
    every index file would be pruned and the lookup silently empty.
    A key that cannot cast to the column's type can match no row and is
    dropped (correct semantics, never an error). Non-str/int/float
    column types pass through untouched — the caller supplied native
    values."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return [str(k) for k in keys]
    out = []
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        for k in keys:
            try:
                # via str() so int(3.9) can't silently truncate-match
                out.append(int(str(k)))
            except ValueError:
                # whole-valued floats (3.0, "3.0" — e.g. keys that
                # round-tripped through JSON) equal the integer under
                # SQL numeric promotion, so they must match; only
                # fractional values are dropped (ADVICE r10)
                try:
                    f = float(str(k))
                except ValueError:
                    continue  # "doc-00042" against an int column: no row
                if f.is_integer():
                    out.append(int(f))
        return out
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        for k in keys:
            try:
                out.append(float(str(k)))
            except ValueError:
                pass
        return out
    return list(keys)


def point_lookup(
    spark: SparkSession, path: str, key_col: str, keys: list
) -> DataFrame:
    """Read ONLY the files the posting index maps the ``keys`` to, then
    re-filter (exactness never depends on the index — a stale or missing
    posting can only cost an extra file read... but see the refresh
    contract: the index is refreshed first, so postings cover every
    live file). Merge-on-read composes: if the table carries a
    ``_deletes`` deletion-vector sidecar, the posted-files read applies
    it via the shared size-guarded :func:`io.dv_anti_join` (same
    broadcast-vs-shuffle cutoff as ``read_with_deletes`` — ADVICE r8),
    so a DV-deleted row never reappears through the index path.

    The index probe itself prunes at two levels: the index's zone-map
    manifest admits only the index files whose (disjoint, by
    range-partitioned construction) key envelopes intersect
    [min(keys), max(keys)], then row-group stats prune within them —
    at 100 TB a probe reads one index file's few row groups, not the
    corpus-cardinality posting table.

    Batched lookups: past :data:`POINT_LOOKUP_ISIN_MAX` keys the probe
    and the re-filter switch from ``isin()`` literals (which compile one
    expression branch per key — a 100k-key batch would blow the codegen
    budget) to the semi-join path (:func:`point_lookup_df`); same
    answers, plan cost O(|keys|) data instead of O(|keys|) code."""
    from mapreduce_google_spark.io import read_files_with_deletes

    # ONE reader construction per lookup: each spark.read.parquet(path)
    # lists the table directory (an object-store LIST at real file
    # counts) — three of them per probe was pure overhead
    tbl = spark.read.parquet(path)
    key_type = tbl.schema[key_col].dataType
    if not keys:
        return tbl.where(F.lit(False))
    keys = _coerce_probe_keys(key_type, keys)
    if not keys:  # every probe was uncastable → provably zero matches
        return tbl.where(F.lit(False))

    if len(keys) > POINT_LOOKUP_ISIN_MAX:
        # batched path: hand the (already natively-typed) keys to the
        # DataFrame entry point — one semi-join implementation for both
        # driver-list and distributed key sources
        from pyspark.sql.types import StructType

        keys_df = spark.createDataFrame(
            [(k,) for k in set(keys)],
            schema=StructType().add("_probe_key", key_type),
        )
        # a LocalRelation is a literal embedded in the plan — re-scans
        # are identical by construction, so the snapshot pin would be a
        # pure-overhead job (~0.3s at 100k keys)
        return point_lookup_df(spark, path, key_col, keys_df, pin_keys=False)

    def _filter_keys(df: DataFrame, col: str) -> DataFrame:
        return df.where(F.col(col).isin(keys))

    idx_dir = refresh_point_index(spark, path, key_col)
    try:
        key_range = (min(keys), max(keys))
    except TypeError:
        # mixed/incomparable native values (caller-supplied, non-numeric
        # column): skip manifest pruning, keep row-group pruning + the
        # exact isin() — conservative, never wrong
        key_range = None
    if key_range is None:
        import glob as _glob

        idx_files = sorted(_glob.glob(os.path.join(idx_dir, "*.parquet")))
    else:
        idx_files, _total = pruned_files_from_manifest(
            spark, idx_dir, {"key": key_range}
        )
    hits = (
        (
            _filter_keys(spark.read.parquet(*idx_files), "key")
            .select("file")
            .distinct()
            .collect()
        )
        if idx_files
        else []
    )
    files = sorted(r["file"] for r in hits)
    if not files:
        return tbl.where(F.col(key_col).isin(keys)).limit(0)
    # shared composed read: DV sidecar applied on the scan relation
    # (anti-join before the key filter — commutative, both are row
    # predicates on disjoint concerns)
    return _filter_keys(read_files_with_deletes(spark, path, files), key_col)


def _coerce_probe_col(dtype, col):
    """Expression twin of :func:`_coerce_probe_keys` — cast a probe
    COLUMN to the key column's type with the same semantics: uncastable
    values become NULL (dropped by the caller), whole-valued floats
    equal their integer, fractional floats never truncate-match.
    Returns a Column of the key type."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return col.cast("string")
    # try_cast throughout: ANSI mode (the Spark 4 default) makes a plain
    # cast THROW on uncastable input, but an uncastable probe means
    # "matches no row", never an error (same contract as the list path)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # direct integral cast first ('3' and big longs stay exact —
        # non-integral strings NULL out rather than truncating); fall
        # back to the whole-valued-double path so '3.0'/3.0 match key 3
        # while 3.9 stays NULL (floor differs)
        d = col.try_cast("double")
        whole = F.when(d == F.floor(d), d.try_cast(dtype.simpleString()))
        return F.coalesce(
            col.cast("string").try_cast(dtype.simpleString()), whole
        )
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return col.try_cast("double").try_cast(dtype.simpleString())
    return col.try_cast(dtype.simpleString())


def point_lookup_df(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys_df: DataFrame,
    pin_keys: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """:func:`point_lookup` with a DISTRIBUTED probe-key source: the
    first column of ``keys_df`` holds the keys (any castable type — the
    same coercion semantics as the list path, applied as expressions).
    This is the shape for key batches past driver memory (VERDICT r10
    item 7: tens of millions of probe keys must never materialize as a
    Python list) — e.g. ``spark.read.text(keyfile)`` piped straight in.

    Plan shape: the probe and the re-filter are LEFT SEMI joins against
    the probe keys (duplicate-insensitive, so the key set is never
    shuffled for a distinct) — broadcast when the measured distinct-key
    count fits :data:`POINT_LOOKUP_BROADCAST_MAX` (the count rides the
    same 1-row aggregate as the min/max range, so the decision costs
    nothing extra), shuffled otherwise; which is exactly the 100 TB-safe
    default. Index-file pruning still applies: [min(keys), max(keys)]
    comes from that aggregate, never a driver materialization of the
    keys.

    ``pin_keys=False`` skips the one-job snapshot pin of the key set —
    safe ONLY when the key source is deterministic across re-scans
    (a LocalRelation, a static parquet dir); with a non-deterministic
    source the range aggregate and the two joins could otherwise see
    different keys, and a range narrower than the probed keys would
    prune index files the probe needed (silently missing rows).

    ``stats_out``: pass a dict to receive the stats aggregate this
    lookup already computes — ``{"n": coerced-key count (upper bound,
    duplicates included), "lo": min, "hi": max}`` — so callers that
    report a key count (the CLI) don't pay a SECOND full pass over the
    key source just for the number (ADVICE r11)."""
    from mapreduce_google_spark.io import read_files_with_deletes

    tbl = spark.read.parquet(path)  # one directory listing per lookup
    key_type = tbl.schema[key_col].dataType
    probe_col = keys_df.columns[0]
    keys = (
        keys_df.select(
            _coerce_probe_col(key_type, F.col(probe_col)).alias("_probe_key")
        )
        .where(F.col("_probe_key").isNotNull())
        # NO distinct: LEFT SEMI joins are duplicate-insensitive, so
        # deduplication would buy nothing but a full shuffle of the key
        # set (measured 1.5x the whole lookup wall at 2M keys). The
        # count below is therefore an upper bound — conservative in the
        # right direction for the broadcast decision.
    )
    if pin_keys:
        # materialize once (map-only, no shuffle): the stats aggregate,
        # the index probe and the re-filter all consume the key set, and
        # pinning ONE snapshot keeps the range and the joins consistent
        # even over a non-deterministic source. Callers whose source is
        # deterministic by construction (point_lookup's LocalRelation
        # delegation) pass pin_keys=False and skip the job.
        keys = keys.localCheckpoint()
    stats = keys.agg(
        F.count("*").alias("n"),
        F.min("_probe_key").alias("lo"),
        F.max("_probe_key").alias("hi"),
    ).first()
    if stats_out is not None:
        stats_out.update(n=stats["n"], lo=stats["lo"], hi=stats["hi"])
    if stats["n"] == 0:  # empty/all-uncastable: provably zero matches
        return tbl.where(F.lit(False))
    # decide the join strategy from the MEASURED count, not Catalyst's
    # size estimate (a checkpointed key set has none, and a raw source
    # estimate can call a tens-of-millions key set broadcastable):
    # broadcast under the cap, force a shuffled hash join past it —
    # never ship a huge key set to every executor
    keys_side = (
        F.broadcast(keys)
        if stats["n"] <= POINT_LOOKUP_BROADCAST_MAX
        else keys.hint("shuffle_hash")
    )

    def _filter_keys(df: DataFrame, col: str) -> DataFrame:
        return df.join(
            keys_side.withColumnRenamed("_probe_key", col), [col], "left_semi"
        )

    idx_dir = refresh_point_index(spark, path, key_col)
    idx_files, _total = pruned_files_from_manifest(
        spark, idx_dir, {"key": (stats["lo"], stats["hi"])}
    )
    hits = (
        (
            _filter_keys(spark.read.parquet(*idx_files), "key")
            .select("file")
            .distinct()
            .collect()  # metadata-sized: bounded by the table's file count
        )
        if idx_files
        else []
    )
    files = sorted(r["file"] for r in hits)
    # shared composed read: DV sidecar applied on the scan relation
    # (_metadata resolves only there — projecting it after the semi-join
    # was the r11 bug), empty file list → schema-only empty frame
    return _filter_keys(
        read_files_with_deletes(spark, path, files), key_col
    )


def _indexed_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Ensure THE lookup-serving events copy exists: 16 files
    hash-scattered on event_id (the layout where zone maps are useless —
    every file spans the whole id range) WITH split-block bloom filters
    on event_id baked into the files.

    ONE copy serves both lookup strategies (r15, VERDICT r14 wrong #3 —
    the staged r14 shoot-out kept a second full events copy per
    strategy): the bloom bytes answer t237's direct pushed-predicate
    reads, and the posting index built OVER this same copy still serves
    t240's distributed-probe batches — the two compose (index picks
    files, bloom bytes skip row groups inside them), so neither needs
    its own layout. ndv is sized PER FILE (rows/16, the even share the
    hash scatter guarantees), not per table: parquet-mr sizes each ROW
    GROUP's bitset from the option value — with one row group per file
    (true at these file sizes, and what the rows/16 sizing relies on;
    a file that split into several groups would get each group's filter
    sized for the whole file, wasting bytes but never correctness —
    ADVICE r15) that is the file's bitset, so the r14 total-row-count
    sizing inflated every filter ~16× (ADVICE r14).

    The row count comes from the SOURCE parquet footers (event_id is
    unique → rows = distinct keys) — a driver-side metadata read, not a
    ``src.count()`` Spark job: the cold build already pays one full
    corpus pass to write the copy; scanning it a second time just to
    size the ndv doubled the cold path (VERDICT r15 wrong #2). The
    count() fallback survives only for sources whose footers are
    unreadable."""
    from mapreduce_google_spark.io import parquet_rows, write_parquet_bloom


    def write(path: str) -> None:
        src = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        n = parquet_rows(sf_dir, "events")
        if n is None:  # unreadable footers — pay the job, don't crash
            n = src.count()
        write_parquet_bloom(
            src.repartition(16, "event_id"),
            path,
            {"event_id": max(1000, n // 16)},
        )

    return write_once(derived_dir("events_lookup", sf_dir, "events"), write)


def indexed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t237's semantics via the POSTING INDEX — the r11–r14 registered
    default, kept as the equality reference and the file-pruning form
    (``point_lookup`` reads ONLY the files the persisted (key, file)
    posting table names; file-count reduction asserted in
    ``tests/test_point_index.py``).

    Demoted from the t237 default in r15 by measurement
    (bloom vs index shootout): the bloom layout answers the same
    probes 3–4× faster at both measured tiers with ZERO secondary
    assets, while the index pays a multi-job probe (refresh check +
    posting scan + collect) per lookup. The index still earns its keep
    where per-file scan cost dominates (TB-scale files — pick files
    first, then let the same copy's bloom bytes skip row groups inside
    them) and for DISTRIBUTED probe batches (t240's
    ``point_lookup_df``), which a driver-side isin() cannot express.
    """
    path = _indexed_events_path(spark, sf_dir)
    ids = list(POINT_LOOKUP_IDS)
    return (
        point_lookup(spark, path, "event_id", ids)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value").cast("double"), 6).alias("value"),
        )
        .orderBy("event_id")
    )


def bloom_lookup(
    spark: SparkSession, path: str, key_col: str, values: list
) -> DataFrame:
    """Point lookup over a bloom-filtered layout: ONE pushed IN
    predicate, no secondary asset — every row group self-excludes via
    its bloom filter, so misses decode nothing and hits decode only the
    groups that might match. The read routes through
    ``io.read_with_deletes`` so a ``_deletes`` sidecar masks rows
    exactly as it does on the posting-index path (ADVICE r14: a bare
    parquet read here would resurrect DV-deleted rows on merge-on-read
    tables); with no sidecar that is a plain pushed-predicate scan —
    the equality filter pushes through the coordinate projection to the
    parquet source either way (plan-gated in
    ``tests/test_point_index.py``).

    An EMPTY probe set short-circuits to ``where(lit(false))``, which
    Catalyst's PruneFilters collapses to an empty LocalRelation — a
    guaranteed scan elision. ``isin([])`` would be CORRECT (0 rows) but
    compiles to an ``In()`` the optimizer rewrites to a null-safe
    conditional, not an enforced no-scan (ADVICE r15); this mirrors
    ``read_files_with_deletes``'s empty-files branch."""
    from mapreduce_google_spark.io import read_with_deletes

    vals = list(values)
    if not vals:
        return read_with_deletes(spark, path).where(F.lit(False))
    return read_with_deletes(spark, path).where(F.col(key_col).isin(vals))


def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T237 — point lookup over the bloom-filtered lookup layout: fetch
    6 fixed event ids with one pushed IN predicate; row groups
    self-exclude via their split-block bloom filters.

    The registered default since r15, by measurement
    (r15 bloom vs index shootout): hits
    0.16 s vs 0.70 s via the posting index and misses 0.14 s vs 0.42 s
    at both sf0.1 and the 10× replica — with ZERO secondary assets (no
    refresh protocol, no staleness contract, no probe-time index jobs;
    the filter bytes travel inside the data files). The posting-index
    form (:func:`indexed_point_lookup`) remains the pinned equality
    reference, and the two COMPOSE at TB-scale files: index picks
    files, bloom bytes skip row groups inside them — both read the one
    consolidated copy (:func:`_indexed_events_path`). Exactness never
    rests on the filter: bloom is a physical row-group skip under the
    same pushed predicate, and the oracle answers the same ids from the
    raw table. Lineage: the reference reads every input file on every
    job (reference ``manager/__main__.py:320-327``) — data skipping is
    the gap row this family closes.
    """
    path = _indexed_events_path(spark, sf_dir)
    return (
        bloom_lookup(spark, path, "event_id", list(POINT_LOOKUP_IDS))
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value").cast("double"), 6).alias("value"),
        )
        .orderBy("event_id")
    )


def batched_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T240 — batched secondary-index lookup with a DISTRIBUTED probe
    set: 2,500 event ids (every odd id in [1, 5000)) arrive as a
    DataFrame — ``spark.range``, standing in for any driver-unbounded
    key source such as ``spark.read.text(keyfile)`` — and are answered
    through :func:`point_lookup_df`: the same persisted posting index
    as t237, probed and re-filtered via LEFT SEMI joins against the
    probe keys instead of isin() literals.

    The 100 TB shape this certifies (VERDICT r10 item 7): reverse-ETL
    and eval-set extraction probe MILLIONS of keys per run — a key
    batch must never become per-key expressions (codegen blows past a
    few thousand) nor a driver-side list (memory), and the join side
    must be chosen from the MEASURED key count (broadcast under
    :data:`POINT_LOOKUP_BROADCAST_MAX`, shuffled semi-join past it).
    Exactness never rests on the index: posted files are re-filtered by
    the same semi-join, and the oracle answers the identical id set
    from the raw table.
    """
    path = _indexed_events_path(spark, sf_dir)
    probes = spark.range(1, 5_000, 2).select(F.col("id").alias("probe_id"))
    return (
        point_lookup_df(spark, path, "event_id", probes)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value").cast("double"), 6).alias("value"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Incremental view maintenance — aggregate views updated from the delta
# --------------------------------------------------------------------------

def maintained_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T238 — incremental view maintenance: the per-day (n_events,
    sum_value) aggregate view AFTER the t225 corrections, computed from
    the PRE-CORRECTION view plus the delta's per-day group
    contributions — the merged events table itself is never read (no
    ensure, no upsert materialization; plan-gated by the no-rescan test
    in ``tests/test_ivm.py``).

    The 100 TB pattern this encodes: a nightly corrections feed touches
    one day, so re-aggregating the corpus to refresh a dashboard view is
    O(corpus) wasted work — sum/count-style (abelian-group) aggregates
    maintain under deltas as ``view ⊕ Δagg``, where each replaced row
    contributes (new − old) and each insert contributes itself. The same
    algebra is why the sketch tables (t232–t234) and the streaming
    merges (t72/t229) never re-scan; this op states it for the plain
    relational view and certifies it against the full recomputation
    oracle (DuckDB aggregates the relationally-merged table).

    Delta contributions on UPSERT_DAY: an updated row (id % 10 = 0)
    replaces value with value+1000 → Δsum = +1000, Δn = 0; a late insert
    (id % 17 = 0, id + 1e9) → Δsum = +1.0, Δn = +1. Both sub-deltas come
    from ONE narrow scan of the day slice of the source.
    """
    ev = _events_source(spark, sf_dir)
    view_v1 = ev.groupBy("day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
    )
    src_day = ev.where(F.col("day") == F.lit(UPSERT_DAY).cast("date"))
    delta_agg = src_day.groupBy("day").agg(
        # updates replace value -> value+1000: delta = +1000 per hit, 0 rows
        (
            F.sum(
                F.when(F.pmod("event_id", F.lit(10)) == 0, F.lit(1000)).otherwise(
                    F.lit(0)
                ).cast("decimal(12,2)")
            )
            # inserts: one new row of value 1.0 per id % 17 == 0
            + F.sum(
                F.when(F.pmod("event_id", F.lit(17)) == 0, F.lit(1.0)).otherwise(
                    F.lit(0.0)
                ).cast("decimal(12,2)")
            )
        ).alias("d_sum"),
        F.sum(
            F.when(F.pmod("event_id", F.lit(17)) == 0, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("d_n"),
    )
    return (
        view_v1.join(F.broadcast(delta_agg), ["day"], "left")
        .select(
            "day",
            (F.col("n_events") + F.coalesce(F.col("d_n"), F.lit(0))).alias(
                "n_events"
            ),
            F.round(
                (
                    F.col("sum_value")
                    + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(12,2)"))
                ).cast("double"),
                6,
            ).alias("sum_value"),
        )
        .orderBy("day")
    )


def _ivm_chain_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the cross-snapshot IVM artifacts exist and return their
    root: ``view_v1/`` (the materialized per-day aggregate of snapshot
    v1, exact-decimal sums) and ``cdc/`` (the v1→v2 change feed from
    :func:`snapshot_diff`, CHANGED ROWS ONLY — delta-sized, carrying
    old/new day+value). Both derive from the t228 snapshot chain
    (:func:`_events_snapshot_root`), so t228/t239 share one ensure
    artifact per corpus."""
    from mapreduce_google_spark.io import read_snapshot

    def snapshot(version: int) -> DataFrame:
        return read_snapshot(
            spark, _events_snapshot_root(spark, sf_dir), version=version
        )

    root = derived_dir(f"ivm_chain_o{UPSERT_INSERT_OFFSET}", sf_dir, "events")
    write_once(
        os.path.join(root, "view_v1"),
        lambda path: snapshot(1)
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        )
        .coalesce(1)  # per-day view: O(days) rows, metadata-sized
        .write.mode("overwrite")
        .parquet(path),
    )
    write_once(
        os.path.join(root, "cdc"),
        lambda path: snapshot_diff(
            snapshot(1),
            snapshot(2),
            ["event_id"],
            ["day", "value"],
            carry_old=("day", "value"),
            carry_new=("day", "value"),
        )
        .where(F.col("change_type") != "unchanged")
        .write.mode("overwrite")
        .parquet(path),
    )
    return root


def maintain_view_with_cdc(view: DataFrame, cdc: DataFrame) -> DataFrame:
    """Apply a :func:`snapshot_diff` change feed to a materialized
    per-day (n_events, sum_value) aggregate view — the retract/assert
    IVM algebra shared by t239 and unit-tested in isolation
    (``tests/test_ivm.py::test_chain_algebra_moves_groups_and_retracts``
    feeds it synthetic group-moving updates and emptied groups).

    Each CDC row contributes in retract/assert form — a delete or the
    old half of an update retracts (−value, −1 row) on its old day, an
    insert or the new half of an update asserts (+value, +1 row) on its
    new day — so updates that MOVE a row across group keys maintain
    correctly, the property a single-coalesced-day shortcut would
    silently break. Groups whose maintained count reaches zero are
    retracted entirely (standard IVM).

    Plan shape: because the view's own rows are just one more abelian
    contribution (+n_events, +sum_value), view ⊕ Δ is a UNION into a
    single hash aggregation — no outer join at all (a full-outer join
    can't even broadcast its small side; the r10 plan audit caught the
    original join form emitting 3 exchanges + a dead broadcast hint).
    One shuffle on the group key, whatever the feed size."""
    contrib = (
        view.select(
            "day",
            F.col("sum_value").alias("dv"),
            F.col("n_events").alias("dn"),
        )
        .unionByName(
            cdc.where(F.col("old_day").isNotNull()).select(
                F.col("old_day").alias("day"),
                (-F.col("old_value").cast("decimal(12,2)")).alias("dv"),
                F.lit(-1).cast("long").alias("dn"),
            )
        )
        .unionByName(
            cdc.where(F.col("new_day").isNotNull()).select(
                F.col("new_day").alias("day"),
                F.col("new_value").cast("decimal(12,2)").alias("dv"),
                F.lit(1).cast("long").alias("dn"),
            )
        )
    )
    return (
        contrib.groupBy("day")
        .agg(
            F.sum("dn").alias("n_events"),
            F.round(F.sum("dv").cast("double"), 6).alias("sum_value"),
        )
        .where(F.col("n_events") > 0)  # retract emptied groups
        .orderBy("day")
    )


def chain_maintained_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T239 — incremental view maintenance across the SNAPSHOT CHAIN:
    the per-day (n_events, sum_value) view at snapshot v2, computed as
    the materialized v1 view ⊕ the aggregated v1→v2 change feed — the
    plan reads ONLY the tiny view table and the delta-sized CDC feed,
    never v1, never v2, never the source events (no-rescan plan-gated by
    ``tests/test_ivm.py::test_chain_maintenance_reads_only_view_and_cdc``).

    This is t238 generalized onto the real CDC path (VERDICT r8 item 7):
    t238's delta was derived arithmetically from the known corrections
    rule; here the delta is :func:`snapshot_diff`'s row-level change
    feed between two published ``versioned_write`` snapshots, so the
    maintenance algebra (:func:`maintain_view_with_cdc`) is certified
    against what the lakehouse actually records. At 100 TB: the nightly
    view refresh costs O(days + |changes|), not O(corpus) — the same
    reason the sketch tables (t232–t234) and streaming merges never
    re-scan. Oracle: registered as ``t239_chain_maintained_daily_revenue``
    in ``queries.py`` — DuckDB recomputes the v2 view from the
    relationally-merged table, identical semantics to t238's oracle by
    construction.
    """
    root = _ivm_chain_dir(spark, sf_dir)
    view = spark.read.parquet(os.path.join(root, "view_v1"))
    cdc = spark.read.parquet(os.path.join(root, "cdc"))
    return maintain_view_with_cdc(view, cdc)
