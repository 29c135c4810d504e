"""Relational operators — the families absent from the reference.

The reference has no joins, aggregations (beyond user-exe group-reduce),
windows, set ops, or scalar functions (SURVEY.md §2c gap table); here they
are expressed declaratively so Catalyst supplies pushdown, partial
aggregation, broadcast joins and AQE for free.

Scale notes (100 TB discipline):
* dimension tables (region/nation, and customer relative to orders) are
  broadcast explicitly — the fact-side shuffle disappears;
* fact-fact joins shuffle on their keys and rely on AQE skew-split;
* every aggregation is a hash-agg with map-side partial aggregation —
  the combiner the reference never had;
* top-k = orderBy+limit compiles to TakeOrderedAndProject (per-partition
  heaps, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_google_spark.functions.numeric import (
    davg,
    dsum,
    money,
    one_minus,
    one_plus,
    rate,
)
from mapreduce_google_spark.io import load_table, register_views


def filter_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T07 — TPC-H Q6-shaped σ+π+agg: predicates reach the parquet scan
    (PushedFilters), a single global sum comes back."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(money("l_extendedprice") * rate("l_discount")).alias("revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T08 — TPC-H Q1-shaped pricing summary per (returnflag, linestatus).

    One shuffle on a 6-value grouping key; partial aggregation collapses
    ~everything map-side, so the exchange is tiny at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = money("l_extendedprice") * one_minus("l_discount")
    charge = disc_price * one_plus("l_tax")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(money("l_quantity")).alias("sum_qty"),
            dsum(money("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(money("l_quantity")).alias("avg_qty"),
            davg(money("l_extendedprice")).alias("avg_price"),
            davg(rate("l_discount")).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T09 — orders ⋈ customer ⋈ nation ⋈ region, revenue per region.

    nation/region are broadcast (tiny, fixed-size); customer⋈orders is the
    one real shuffle — and orders is pre-aggregated to customer grain
    before it (exact decimal partials are associative, so pushing the sum
    below the join is safe and shrinks the exchange to one row per active
    customer). At 100 TB customer may outgrow broadcast — that join keys
    both sides on custkey, so bucketing customer and orders on custkey at
    write time removes the exchange too.

    Orders come from the custkey-bucketed :func:`io.bucketed_fact_table`
    copy: the per-customer pre-aggregation — the query's only fact
    shuffle — then consumes bucket co-location instead of exchanging
    (0.98→0.60 s median at sf0.1 against the raw scan, r13; plan-gated
    in ``tests/test_plans.py``). The same store serves every custkey
    join family member (t10 semi/anti, t11 window, t40's join).
    """
    from mapreduce_google_spark.io import bucketed_fact_table

    orders = spark.table(bucketed_fact_table(spark, sf_dir, "orders", "o_custkey"))
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("rev_dec"),
        F.count("*").alias("n_orders_c"),
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("rev_dec").cast("double"), 6).alias("revenue"),
            F.sum("n_orders_c").cast("long").alias("n_orders"),
        )
        .orderBy("r_name")
    )


def customers_with_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 — left-semi and left-anti joins, labeled and unioned.

    Semi/anti need only the join key from the right side; Spark builds a
    broadcast/shuffled hash of distinct o_custkey — no row explosion.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select(F.lit("with_orders").alias("kind"), F.col("c_custkey"))
    )
    without_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select(F.lit("without_orders").alias("kind"), F.col("c_custkey"))
    )
    return with_orders.unionAll(without_orders).orderBy("kind", "c_custkey")


def top_orders_per_customer(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """T11 — top-k orders per customer by totalprice (window row_number).

    Ties broken by o_orderkey so ranking is total. At scale, a
    per-partition pre-filter (rank within partition) isn't needed:
    Spark's WindowExec streams each key group.

    Reads the custkey-bucketed :func:`io.bucketed_fact_table` store —
    the window's partitionBy(o_custkey) consumes bucket co-location and
    the per-customer sort runs with NO exchange of orders. This is the
    ONLY path since r16: the r13 size dispatcher
    (``TOPK_WINDOW_STORE_MIN_ROWS``, raw scan below 500k orders) was
    retired when the r15 re-measurement (top-k window shootout)
    showed the raw scan's small-tier
    edge was NOISE — sf0.1 medians 0.853 vs 0.928 with fully
    overlapping spreads — while at sf1 the store dominates 3.1×
    (1.06 s vs 3.33 s). Same verdict shape that retired t33's
    dispatcher. A hash-agg top-k form (collect_list → sort_array →
    slice) was measured and REJECTED: 0.86/5.42 s vs the window's
    0.84/5.06 s at sf0.1/sf1 — the per-group materialization costs
    what the sort saves.
    """
    from mapreduce_google_spark.io import bucketed_fact_table

    orders = spark.table(
        bucketed_fact_table(spark, sf_dir, "orders", "o_custkey")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= k)
        .orderBy("o_custkey", "rn")
    )


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 — revenue by (region, nation) with ROLLUP subtotals.

    The fact side is ONE exchange-free per-customer hash-agg over
    :func:`prejoined_order_lines_table` (r16, VERDICT r15 item 3): the
    custkey-bucketed lineitem ⋈ orders line store already carries
    ``o_custkey`` on every line, so the per-order pre-agg AND the
    fact-fact join that :func:`revenue_rollup_direct` runs at query
    time are paid once per corpus version in the store build instead.
    Measured (r16 rollup shootout, equality-gated): medians
    0.875 vs 1.418 s at sf0.1 (−38%), 1.055 vs 3.032 s at sf1 (−65%),
    2.087 vs 7.636 s at the 30× replica (−73%) — spreads fully
    separated at every tier, and the win GROWS with scale because the
    store removes the two stages whose cost scales with lineitem. The
    same shootout settled the r15 twolevel question: pushing the rollup
    Expand above a finest-grain pre-agg is a wash on EVERY substrate
    (the expand was never the dominant cost; the join chain was).
    """
    revenue = money("l_extendedprice") * one_minus("l_discount")
    store = spark.table(prejoined_order_lines_table(spark, sf_dir))
    per_cust = store.groupBy("o_custkey").agg(
        F.sum(revenue).alias("rev_dec"),  # exact decimal partials
        F.count("*").alias("n_lines"),
    )
    return _rollup_by_region(spark, sf_dir, per_cust)


def revenue_rollup_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12's storeless reference (equality pinned against
    :func:`revenue_rollup` in ``tests/test_plans.py`` and
    ``tests/test_flip_fuzz.py``): per-order pre-agg below the fact-fact
    join over the raw scans, customer-grain partials exchanged."""
    revenue = money("l_extendedprice") * one_minus("l_discount")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li_per_order = li.groupBy("l_orderkey").agg(
        F.sum(revenue).alias("rev_dec"),  # exact decimal partial sum
        F.count("*").alias("n_lines"),
    )
    per_cust = (
        li_per_order.join(
            orders.select("o_orderkey", "o_custkey"),
            li_per_order.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum("rev_dec").alias("rev_dec"),
            F.sum("n_lines").alias("n_lines"),
        )
    )
    return _rollup_by_region(spark, sf_dir, per_cust)


def _rollup_by_region(
    spark: SparkSession, sf_dir: str, per_cust: DataFrame
) -> DataFrame:
    """T12's tail over a per-customer ``(o_custkey, rev_dec, n_lines)``
    relation: broadcast customer/nation/region joins, then the rollup
    Expand over ~|customers| rows (grouping-set expansion after
    aggregation, no extra scan). The partials are exact decimals, so
    regrouping them is value-identical whichever body built them."""
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    joined = (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("rev_dec").cast("double"), 6).alias("revenue"),
            F.sum("n_lines").cast("long").alias("n_rows"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


def prejoined_order_lines_table(spark: SparkSession, sf_dir: str) -> str:
    """custkey-bucketed DENORMALIZED line store: lineitem ⋈ orders
    projected to ``(o_custkey, o_orderkey, l_extendedprice,
    l_discount)`` at LINE grain, bucketed+sorted on ``o_custkey`` — the
    t33 pattern applied to t12's join prefix (VERDICT r15 item 3: at
    30× the per-order join chain is t12's residual cost; this store
    pays it ONCE per corpus version). Raw columns, not precomputed
    sums, so the store stays semantics-neutral: any custkey-grain
    revenue/count query over order lines can consume it, and parquet
    column pruning keeps narrower readers cheap. The build itself joins
    the two ORDERKEY-bucketed stores, so even the one-time cost is
    exchange-free on the fact side."""
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        bucketed_fact_table,
        cache_tag,
        shared_store_path,
    )

    tag = cache_tag(sf_dir, "lineitem", "orders")
    name = f"mgs_order_lines_custkey_{tag}"

    def build():
        li = spark.table(
            bucketed_fact_table(spark, sf_dir, "lineitem", "l_orderkey")
        ).select("l_orderkey", "l_extendedprice", "l_discount")
        orders = spark.table(
            bucketed_fact_table(spark, sf_dir, "orders", "o_orderkey")
        ).select("o_orderkey", "o_custkey")
        return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "o_custkey", "o_orderkey", "l_extendedprice", "l_discount"
        )

    return adopt_or_build_bucketed_table(
        spark, name, shared_store_path(name), ["o_custkey"], None, build
    )


def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 — union/intersect/except of customer keys from two segments,
    labeled with the op that produced them."""
    customer = load_table(spark, sf_dir, "customer")
    seg_a = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    seg_b = customer.where(F.col("c_acctbal") > 0).select("c_custkey")
    return (
        seg_a.union(seg_b).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionAll(
            seg_a.intersect(seg_b).select(F.lit("intersect").alias("op"), "c_custkey")
        )
        .unionAll(
            seg_a.exceptAll(seg_b).distinct().select(
                F.lit("except").alias("op"), "c_custkey"
            )
        )
        .orderBy("op", "c_custkey")
    )


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14 — string/date/math scalar expressions over lineitem.

    Pure per-row project: whole-stage codegen, zero shuffle (the final
    orderBy is the only exchange, required for deterministic comparison).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        F.month("l_shipdate").cast("long").alias("ship_month"),
        F.dayofmonth("l_shipdate").cast("long").alias("ship_day"),
        F.substring("l_returnflag", 1, 1).alias("flag1"),
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("flag_status"),
        F.upper("l_linestatus").alias("status_uc"),
        F.length(F.col("l_returnflag")).cast("long").alias("flag_len"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "net_price"
        ),
        F.round(F.sqrt(F.abs(F.col("l_quantity"))), 6).alias("qty_sqrt"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("price_floor"),
        (F.col("l_quantity") % 5).alias("qty_mod5"),
    ).orderBy("l_orderkey", "l_linenumber")


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T31 — CUBE over (returnflag, linestatus): all four grouping sets in
    one pass (grouping-set expansion happens after partial aggregation, so
    the scan and the map-side combine are shared)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.count("*").cast("long").alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T32 — non-equi (range) join: orders against a banded price
    dimension on lo ≤ o_totalprice < hi.

    The band table is tiny and broadcast, so the non-equi predicate is
    evaluated map-side (BroadcastNestedLoopJoin) — the scalable shape for
    interval joins against small dimension ranges. For two LARGE interval
    sets the right plan is a bucketed prefilter (join on overlapping
    coarse buckets, then refine) — same pattern as the LSH verify stage.
    """
    orders = load_table(spark, sf_dir, "orders")
    bands = F.broadcast(
        spark.createDataFrame(
            [
                ("low", 0.0, 50_000.0),
                ("mid", 50_000.0, 150_000.0),
                ("high", 150_000.0, 300_000.0),
                ("ultra", 300_000.0, 1e18),
            ],
            ["band", "lo", "hi"],
        )
    )
    return (
        orders.join(
            bands,
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            # sum in exact decimal: double accumulation order varies with
            # partitioning and diverges past 1e-6 on ~1e9 totals
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                6,
            ).alias("revenue"),
        )
        .orderBy("band")
    )


def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T33 — as-of join: for each event, the most recent order of the same
    customer with o_orderdate ≤ event time, read from the BUCKETED FACT
    STORES — the zero-exchange as-of join (r14; VERDICT r13 item 4).

    Both facts come from :func:`io.bucketed_fact_table` copies already
    built for their join families (orders by o_custkey for t09/t11,
    events by user_id for t16/t45), bucketed with EQUAL bucket counts —
    so the equi-join on user_id = o_custkey is co-partitioned on both
    sides and runs with ZERO exchange of either fact. Order history is
    first collapsed per customer into ONE sorted array (groupBy on the
    bucket column: exchange-free too), then each event picks the last
    array element with t ≤ event time — a per-row JVM expression, no
    window sort over |events|+|orders| rows and no Python stage.

    Tie-break parity with :func:`asof_latest_order_union_merge`: the
    history is sorted ascending by (t, o_orderkey), so the LAST
    qualifying element is the max (date, orderkey) — the same
    lexicographic struct-max the oracle's row_number computes.
    ``try_element_at`` (not element_at) keeps ANSI mode happy when no
    order precedes the event.

    Cost model: per-event work is O(per-customer history) rather than
    the union-merge's global n·log n sort — on TPC-H-shaped data
    (≈10 orders/customer) the array scan is trivially cheap and the
    plan ships no fact exchange. Measured (r14 implementation shootout,
    medians of 5): sf0.1 — 1.11 s vs 1.32 s union-merge vs 2.23 s for a
    cogrouped-pandas ``merge_asof``; sf1 — 2.12 s vs 8.62 s vs 5.45 s,
    and the gap WIDENS with scale. A pathological customer with a
    10^8-order history would make one fat array row; for such skew,
    salt the history into date-range sub-arrays.
    """
    from mapreduce_google_spark.io import bucketed_fact_table

    orders = spark.table(bucketed_fact_table(spark, sf_dir, "orders", "o_custkey"))
    events = spark.table(bucketed_fact_table(spark, sf_dir, "events", "user_id"))
    hist = orders.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("t"),
                    F.col("o_orderkey"),
                    F.col("o_orderdate"),
                )
            )
        ).alias("hist")
    )
    ev = events.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_ev"),
    )
    best = F.try_element_at(
        F.filter("hist", lambda o: o["t"] <= F.col("t_ev")), F.lit(-1)
    )
    return (
        ev.join(hist, ev.user_id == hist.o_custkey)
        .select(
            "event_id",
            "user_id",
            best.getField("o_orderkey").alias("o_orderkey"),
            F.date_format(best.getField("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "order_ts"
            ),
        )
        .where(F.col("o_orderkey").isNotNull())
        .orderBy("event_id")
    )


def asof_latest_order_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T33's store-free reference (equality pinned against
    :func:`asof_latest_order` on boundary corpora and ``sf_dir``): the
    JOIN-FREE as-of. Tag orders and events into ONE stream, sort per
    customer by (time, kind) with order rows before event rows at equal
    timestamps (≤ semantics), and forward-fill the running last order
    with ``last(..., ignorenulls)``. One shuffle + sort on the customer
    key and zero fan-out: the row count is exactly |events| + |orders|
    at every stage. Ties among same-timestamp orders resolve to the max
    orderkey via the ascending sort, matching the argmax the oracle
    computes.
    """
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    ev = events.select(
        F.col("user_id").alias("u"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
    )
    od = orders.select(
        F.col("o_custkey").alias("u"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
    )
    w = (
        Window.partitionBy("u")
        .orderBy("t", "kind", F.col("o_orderkey").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(od)
        .select(
            "event_id",
            F.col("u").alias("user_id"),
            "kind",
            F.last("o_orderkey", ignorenulls=True).over(w).alias("o_orderkey"),
            F.last("o_orderdate", ignorenulls=True).over(w).alias("best_date"),
        )
        .where((F.col("kind") == 1) & F.col("o_orderkey").isNotNull())
        .select(
            "event_id",
            "user_id",
            "o_orderkey",
            F.date_format("best_date", "yyyy-MM-dd HH:mm:ss").alias("order_ts"),
        )
        .orderBy("event_id")
    )


def running_order_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T34 — per-customer ordered analytics: running revenue, previous /
    next order price (lag/lead), order index. One shuffle on o_custkey
    shared by all four window functions (same frame)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(wsum), 6).alias("running_revenue"),
        F.round(F.lag("o_totalprice").over(w), 6).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 6).alias("next_price"),
        F.row_number().over(w).alias("order_idx"),
    ).orderBy("o_custkey", "order_idx")


def segment_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T35 — exact interpolated percentiles (median, p90) of account
    balance per market segment.

    ``F.percentile`` is the exact linear-interpolation aggregate (same
    definition as ANSI ``percentile_cont`` / DuckDB ``quantile_cont``), so
    the oracle matches bit-for-bit after rounding. At 100 TB exact
    percentiles buffer each group's values — switch to
    ``percentile_approx`` (t39's sketch cousin: GK-sketch, mergeable,
    bounded memory) when groups stop fitting; the API shape is identical.
    """
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("median_acctbal"),
            F.round(F.percentile("c_acctbal", F.lit(0.9)), 6).alias("p90_acctbal"),
            F.count("*").cast("long").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


def pricing_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T36 — pivot lineitem counts: one row per returnflag, one column
    per linestatus.

    Pivot values are declared explicitly — without the list Spark runs a
    separate distinct scan just to discover the columns, and the output
    schema becomes data-dependent (a non-starter for a 100 TB pipeline
    feeding a fixed downstream schema). A declared pivot is a single
    hash-agg pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce("F", F.lit(0)).cast("long").alias("n_f"),
            F.coalesce("O", F.lit(0)).cast("long").alias("n_o"),
        )
        .orderBy("l_returnflag")
    )


def top_orders_global(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """T38 — global top-k orders by price, deterministic tie-break on key.

    ``orderBy + limit`` compiles to TakeOrderedAndProject: each task keeps
    a k-row heap, the driver merges heaps — no range-partitioned global
    sort ever materializes. This is the shape to insist on for top-k at
    100 TB (a real global sort of the full table would shuffle all of it).
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T52 — keep-latest-per-key dedup: each customer's most recent order.

    The "keep the newest version of every record" pass every CDC /
    snapshot-compaction pipeline runs. Implemented as a single hash
    aggregation of ``max(struct(ts, key, payload))`` — structs compare
    lexicographically, so the max IS the latest row (orderkey breaks
    date ties deterministically) and the payload rides along.

    Scale: the agg is one shuffle carrying ONE partially-aggregated
    struct per (customer, map partition) — map-side combine collapses
    each partition's rows before the exchange. The window-function
    formulation (`row_number() ... WHERE rn = 1`, what the oracle uses)
    must instead shuffle EVERY row and sort each partition: same answer,
    strictly worse plan at 100 TB. Reference lineage: this is the
    "reduce keeps one record per key" pattern of Q-WC-reduce
    (reference ``tests/testdata/exec/wc_reduce.py:24-27``) with an
    argmax instead of a sum.
    """
    orders = load_table(spark, sf_dir, "orders")
    latest = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(
                F.struct("o_orderdate", "o_orderkey", "o_totalprice")
            ).alias("latest")
        )
    )
    return latest.select(
        "o_custkey",
        F.col("latest.o_orderkey").alias("latest_orderkey"),
        F.date_format("latest.o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "latest_order_ts"
        ),
        F.round("latest.o_totalprice", 2).alias("latest_price"),
    ).orderBy("o_custkey")


def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T53 — TPC-H Q5 shape: revenue from LOCAL suppliers per nation.

    Six-way join (customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈
    region) restricted to ASIA and one order-year, where the customer and
    the supplier sit in the same nation (c_nationkey = s_nationkey) —
    the classic join-graph-with-a-cycle query.

    Scale: nation/region are broadcast (a few rows even at SF100k);
    supplier stays on the shuffle side — at 100 TB it is millions of
    rows, far past broadcast threshold. Join order matters: orders is
    filtered by date FIRST (pushed to the scan), so the orders⋈lineitem
    shuffle carries only the selected year; the same-nation condition is
    applied as an equi-key (c_nationkey = s_nationkey folded into the
    join on supplier), not a post-join filter, which keeps the join
    build sides small. Catalyst + AQE may still reorder at runtime —
    that freedom is the point of declaring, not scheduling, the plan.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")

    joined = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(
            dsum(money("l_extendedprice") * one_minus("l_discount")).alias("revenue"),
            F.count("*").cast("long").alias("n_lineitems"),
        )
        .orderBy("n_name")
    )


def price_histogram(
    spark: SparkSession, sf_dir: str, width: float = 25_000.0, n_buckets: int = 20
) -> DataFrame:
    """T58 — fixed-width histogram of order totals.

    The distribution-profiling pass that sizes every downstream decision
    (salting thresholds, AQE advisory partition sizes, outlier cutoffs).
    Bucketing is plain arithmetic — ``least(floor(price/width), n-1)`` —
    rather than ``width_bucket``, so the same expression runs in any
    engine and stays inside codegen.

    Scale: one narrow projection + a groupBy over ≤ n_buckets keys;
    partial aggregation collapses each map partition to at most
    n_buckets rows before the exchange, so shuffle volume is O(buckets ×
    partitions) regardless of table size — the cheapest possible profile
    of a 100 TB fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / width), F.lit(n_buckets - 1)
    ).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


def customer_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T59 — full-outer reconciliation of customers vs order activity.

    The data-quality join: rows appearing on either side only are the
    anomalies (customers who never ordered / orders whose customer is
    missing from the dimension). Aggregate orders to customer grain
    FIRST, then full-outer join one row per key against the dimension —
    the join carries |customers| + |active customers| rows, not every
    order, and classification is a codegen'd CASE over the null pattern.
    """
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum(money("o_totalprice"), 2).alias("total_spend"),
        )
    )
    joined = customer.join(
        per_cust, customer.c_custkey == per_cust.o_custkey, "full_outer"
    )
    return (
        joined.select(
            F.coalesce("c_custkey", "o_custkey").cast("long").alias("custkey"),
            F.when(F.col("o_custkey").isNull(), "never_ordered")
            .when(F.col("c_custkey").isNull(), "orphan_orders")
            .otherwise("matched")
            .alias("status"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
        )
        .orderBy("custkey")
    )


def segment_nation_coverage_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T60 — zero-filled coverage grid: every (nation, mktsegment) cell.

    A reporting staple: the dimension cross product (CROSS JOIN of two
    broadcast-size dims — the one place a cartesian product is correct)
    left-joined against observed customer counts so empty cells appear
    as explicit zeros instead of silently missing rows.

    Scale: the grid is |nations| × |segments| (tiny, broadcast); the
    fact side is pre-aggregated to the same grain before the join, so
    the outer join never touches raw customer rows.
    """
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    segments = (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .distinct()
    )
    grid = nation.crossJoin(segments)
    observed = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            davg(money("c_acctbal")).alias("avg_acctbal"),
        )
    )
    return (
        grid.join(
            observed,
            (grid.n_nationkey == observed.c_nationkey)
            & (grid.c_mktsegment == observed.c_mktsegment),
            "left",
        )
        .select(
            "n_name",
            grid["c_mktsegment"].alias("mktsegment"),
            F.coalesce("n_customers", F.lit(0)).cast("long").alias("n_customers"),
            "avg_acctbal",
        )
        .orderBy("n_name", "mktsegment")
    )


def customer_spend_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T61 — ranking-family window functions over per-segment spend.

    One window pass computing rank, dense_rank, percent_rank and a
    quartile (ntile(4)) of each customer's total spend within their
    market segment — the leaderboard/cohort query shape.

    Scale: the expensive part is the orders pre-aggregation (combiner
    collapses to one row per customer before its shuffle); the window
    then shuffles once on mktsegment. All four ranking functions share
    ONE window frame, so Spark evaluates a single Window operator, not
    four. Keys: segments are few but large — at extreme skew the same
    pattern runs per-segment via range partitioning; ntile itself is
    unavoidably a per-partition sort, which is why the global variant
    (no partitionBy) is an anti-pattern the percentile op (T35) avoids.
    """
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum(money("o_totalprice"), 2).alias("spend"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = cust.join(spend, cust.c_custkey == spend.o_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("spend").desc(), F.col("c_custkey").asc()
    )
    return (
        joined.select(
            "c_mktsegment",
            F.col("c_custkey").cast("long").alias("custkey"),
            "spend",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("dense_rnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .where(F.col("rnk") <= 20)
        .orderBy("c_mktsegment", "rnk", "custkey")
    )


def unshipped_orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T62 — TPC-H Q3 shape: top-10 highest-revenue orders placed before
    a cutoff whose items ship after it, for one customer segment.

    The canonical filter→join→agg→top-k composite. Scale decisions: both
    date predicates push to the parquet scans (verified by the T53 gate
    pattern); the segment filter shrinks customer BEFORE its join;
    lineitem is pre-aggregated to order grain before the join (exact
    decimal partials are associative — the shuffle carries one row per
    qualifying order, not one per line); the final top-10 is
    orderBy+limit → TakeOrderedAndProject, so no global sort of the
    aggregated orders.
    """
    cutoff = "1998-01-01"
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < cutoff
    )
    li_per_order = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey")
        .agg(
            F.sum(money("l_extendedprice") * one_minus("l_discount")).alias(
                "rev_dec"
            )
        )
    )
    joined = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li_per_order, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum("rev_dec").cast("double"), 6).alias("revenue"))
        .select(
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


def approx_segment_percentiles(
    spark: SparkSession, sf_dir: str, accuracy: int = 1000
) -> DataFrame:
    """T71 — sketch-based percentiles (median, p90) of account balance per
    segment: the bounded-memory scale path T35's docstring promises.

    ``percentile_approx`` is Spark's Greenwald-Khanna sketch: mergeable
    partial states of O(accuracy) size per group regardless of group
    cardinality — the difference between O(group) memory (exact
    interpolation buffers every value) and O(1) at 100 TB. Guaranteed
    rank error ≤ 1/accuracy. Deterministic for fixed input (the sketch
    is data-dependent, not randomized) but not SQL-portable — rows-only
    for the driver; ``tests/test_approx_ops.py`` bounds it against the
    exact T35 values.
    """
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(
                F.percentile_approx("c_acctbal", F.lit(0.5), F.lit(accuracy)), 6
            ).alias("median_acctbal"),
            F.round(
                F.percentile_approx("c_acctbal", F.lit(0.9), F.lit(accuracy)), 6
            ).alias("p90_acctbal"),
            F.count("*").cast("long").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T74 — per-segment revenue trend: OLS slope of monthly revenue over
    a month index, computed from closed-form sufficient statistics.

    The distributed-regression pattern: no per-group value buffering —
    the slope (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) needs only four sums, all
    map-side combinable, so group cardinality never matters. Two-level
    aggregation: orders roll up to (segment, month) grain first (the
    heavy agg), then the tiny per-segment regression.

    Determinism: monthly revenue accumulates in exact decimal; the month
    index is an int; Σxy multiplies int × decimal (exact); the slope is
    a single IEEE division of two exact operands — identical in DuckDB.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    month_idx = (
        (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
    ).cast("int")
    monthly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", month_idx.alias("x"))
        .agg(F.sum(money("o_totalprice")).cast("decimal(18,2)").alias("y"))
    )
    n = F.count("*").cast("long")
    sx = F.sum("x").cast("long")
    sxx = F.sum(F.col("x").cast("long") * F.col("x")).cast("long")
    sy = F.sum("y")
    sxy = F.sum(F.col("x").cast("decimal(4,0)") * F.col("y"))
    slope = (
        (n.cast("double") * sxy.cast("double") - sx.cast("double") * sy.cast("double"))
        / (n.cast("double") * sxx.cast("double") - sx.cast("double") * sx.cast("double"))
    )
    return (
        monthly.groupBy("c_mktsegment")
        .agg(
            n.alias("n_months"),
            F.round(slope, 6).alias("slope"),
            F.round(sy.cast("double") / n, 6).alias("avg_monthly_revenue"),
        )
        .orderBy("c_mktsegment")
    )


def returned_items_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T79 — TPC-H Q10 shape: lost revenue from RETURNED items per
    customer over one quarter, top 20 customers.

    customer ⋈ orders(quarter) ⋈ lineitem(returnflag='R') ⋈ nation, then
    a per-customer revenue aggregation and a global top-20. Scale shape:
    both selective filters are pushed to the scans (the orders date range
    prunes ~96% of orders before the fact-fact shuffle; the 'R' flag
    prunes ~75% of lineitem); nation is broadcast; the final top-20
    compiles to TakeOrderedAndProject (per-partition heaps + driver
    merge), never a full sort of the customer aggregate. Revenue uses
    the exact-decimal accumulation recipe (order-independent sums).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        dsum(money("l_extendedprice") * one_minus("l_discount")).alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
    )
    return agg.select(
        "c_custkey",
        "c_name",
        F.round(money("c_acctbal").cast("double"), 2).alias("c_acctbal"),
        "n_name",
        "revenue",
        "n_items",
    ).orderBy(F.col("revenue").desc(), "c_custkey").limit(20)


def big_volume_orders(
    spark: SparkSession, sf_dir: str, min_qty: int = 150, k: int = 100
) -> DataFrame:
    """T81 — TPC-H Q18 shape: orders whose total line quantity exceeds
    ``min_qty``, with their customer, top-``k`` by quantity.

    The HAVING-on-a-fact-aggregate pattern: lineitem aggregates to
    order grain FIRST (map-side partial sums — the shuffle carries one
    row per order, not per lineitem), the > threshold filter cuts that
    to a sliver, and only the sliver joins orders and customer. Quantity
    is integral (1..50 per line) so the sum is cast to long — exact in
    any accumulation order. Top-k compiles to TakeOrderedAndProject.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    qty = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > min_qty)
    )
    return (
        qty.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round(money("o_totalprice").cast("double"), 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(k)
    )


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T85 — TPC-H Q4 shape: per-priority count of a quarter's orders that
    have at least one late-shipping line (EXISTS → left-semi join).

    Scale: the date predicate pushes to the orders scan; lineitem is
    reduced to DISTINCT l_orderkey with the ship-after-order predicate
    applied AT the join (semi join keeps orders grain — no fan-out, no
    dedup pass); the final agg is a 5-value hash-agg.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T86 — TPC-H Q7 shape: shipping volume between two nations by year,
    in both directions (supplier nation ↔ customer nation).

    Scale: supplier/customer/nation are broadcast dims; lineitem joins
    orders on orderkey (the one fact-fact shuffle); the nation-pair
    filter applies as soon as both sides are tagged, before the year agg.
    """
    n1, n2 = "NATION_1", "NATION_2"
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(money("l_extendedprice") * one_minus("l_discount")).cast(
                    "double"
                ),
                6,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T87 — TPC-H Q8 shape: one supplier-nation's share of a customer
    region's revenue, per order year.

    Scale: share = conditional-sum / sum inside ONE aggregation pass —
    no self-join, no second scan; all dims broadcast; the region filter
    prunes customers before the fact join.
    """
    target = "NATION_3"
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cust_in_region = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(
            nation.join(
                region, F.col("n_regionkey") == F.col("r_regionkey")
            ).select("n_nationkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            nation.select(F.col("n_nationkey").alias("sn_key"), "n_name"),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (money("l_extendedprice") * one_minus("l_discount")).alias("vol_dec"),
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_in_region, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == target, F.col("vol_dec"))
                    .otherwise(F.lit(0).cast("decimal(12,2)"))
                ).cast("double")
                / F.sum("vol_dec").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T88 — TPC-H Q9 shape: revenue of one product type by supplier
    nation and order year.

    Scale: the part filter prunes the (broadcast) part dim to one type
    before the fact join — the lineitem side never carries non-matching
    rows past the scan-side semi-ish broadcast hash join.
    """
    nation = load_table(spark, sf_dir, "nation")
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("nation", "o_year")
        .agg(
            F.round(
                F.sum(money("l_extendedprice") * one_minus("l_discount")).cast(
                    "double"
                ),
                6,
            ).alias("profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T89 — TPC-H Q13 shape: distribution of customers by order count,
    including zero-order customers (left outer join, two-level agg).

    Scale: first agg collapses orders to customer grain (shuffle on
    custkey); second agg is over ≤ a few hundred distinct counts — the
    canonical two-phase "histogram of a grouped count".
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T90 — TPC-H Q14 shape: PROMO parts' percentage of one month's
    revenue — conditional aggregation, single pass, broadcast part dim.
    """
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    vol = money("l_extendedprice") * one_minus("l_discount")
    return joined.agg(
        F.round(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(
                        F.lit(0).cast("decimal(12,2)")
                    )
                ).cast("double")
            )
            / F.sum(vol).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T91 — TPC-H Q15 shape: the supplier(s) with maximum revenue in a
    quarter (grouped revenue, then keep-the-max via a window max — one
    extra exchange-free projection instead of a self-join).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(money("l_extendedprice") * one_minus("l_discount")).alias("rev_dec")
    )
    w = Window.partitionBy()
    best = rev.withColumn("max_rev", F.max("rev_dec").over(w)).where(
        F.col("rev_dec") == F.col("max_rev")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        best.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("suppkey"),
            "s_name",
            F.round(F.col("rev_dec").cast("double"), 6).alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


def parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T92 — TPC-H Q16 shape: how many distinct suppliers serve each
    (brand, size-bucket), excluding one brand — distinct-agg after a
    broadcast part join over lineitem's (partkey, suppkey) pairs.

    Scale: lineitem first collapses to DISTINCT (l_partkey, l_suppkey) —
    the only shuffle carries key pairs, never line rows.
    """
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") != "Brand#1")
        .select("p_partkey", "p_brand", (F.col("p_size") % 5).alias("size_bucket"))
    )
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        pairs.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "size_bucket")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "size_bucket")
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T93 — TPC-H Q17 shape: yearly-average revenue lost to
    small-quantity orders of one brand: lineitems below 20% of their
    part's average quantity.

    Scale: the per-part average is computed on the SAME filtered
    lineitem slice and joined back part-to-part (shuffle carries one row
    per brand part — thousands, not millions); the brand filter prunes
    via the broadcast part dim before any shuffle.
    """
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#2")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    # exact-decimal sum ÷ count (one IEEE division) — avg(double)'s
    # running accumulation is partitioning-order-dependent
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(money("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    )
    below = li.join(avg_qty, F.col("l_partkey") == F.col("a_partkey")).where(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return below.agg(
        F.round(
            F.sum(money("l_extendedprice")).cast("double") / 7.0, 6
        ).alias("avg_yearly")
    )


def branded_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T94 — TPC-H Q19 shape: revenue under an OR-of-ANDs predicate
    (brand × size range × quantity range branches).

    Scale: the whole disjunction evaluates inside one broadcast hash
    join + filter — Catalyst pushes the part-side conjuncts to the part
    scan and the quantity conjuncts to the lineitem scan (common
    predicate extraction), no union-of-three-scans needed.
    """
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_size"
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    branch = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.where(branch).agg(
        F.round(
            F.sum(money("l_extendedprice") * one_minus("l_discount")).cast("double"),
            6,
        ).alias("revenue")
    )


def suppliers_who_failed_alone(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """T95 — TPC-H Q21 shape: suppliers with a returned ('R') line on a
    multi-supplier order where they are the ONLY supplier with a return —
    the exists/not-exists pair, expressed as one order-grain aggregation.

    Scale: instead of two correlated self-joins (Q21's textbook form),
    collapse lineitem to order grain ONCE — n_suppliers, n_failing,
    the single failing suppkey — then semi-filter; one shuffle on
    orderkey, one on suppkey for the final count.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_failing"),
        F.min(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("failing_suppkey"),
    )
    culprits = per_order.where(
        (F.col("n_suppliers") >= 2) & (F.col("n_failing") == 1)
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        culprits.groupBy("failing_suppkey")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(supp, F.col("failing_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(k)
    )


def global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T96 — TPC-H Q22 shape: per-segment count/balance of
    above-average-balance customers gone inactive (no orders since a
    cutoff) — scalar-subquery average + anti join.

    Scale: the average is a broadcast single-row crossJoin (no
    collect); the anti join streams customers against the date-pruned
    orders custkey side; both aggs are tiny hash-aggs.
    """
    cust = load_table(spark, sf_dir, "customer")
    # exact-decimal sum ÷ count, not avg(double) (order-dependent)
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (F.sum(money("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return (
        no_orders.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            dsum(money("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


def important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T97 — TPC-H Q11 shape: parts whose revenue from one nation's
    suppliers exceeds a fixed fraction of that nation's total — grouped
    value vs broadcast grand total (scalar subquery as crossJoin).
    """
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_5"
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        supp, F.col("l_suppkey") == F.col("s_suppkey")
    )
    value = money("l_extendedprice") * one_minus("l_discount")
    per_part = li.groupBy("l_partkey").agg(F.sum(value).alias("value_dec"))
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * 0.001
        )
        .select(
            F.col("l_partkey").cast("long").alias("partkey"),
            F.round(F.col("value_dec").cast("double"), 6).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


def eligible_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T98 — TPC-H Q20 shape: suppliers who shipped a meaningful volume
    (> 100 units) of SMALL-type parts in 1997 — the semi-join chain
    part→lineitem→supplier, with the HAVING applied at (supp, part)
    grain before the supplier-level semi join.
    """
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "SMALL")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    qualifying = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 60)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select(
            F.col("s_suppkey").cast("long").alias("suppkey"),
            "s_name",
            F.col("s_nationkey").cast("int").alias("nationkey"),
        )
        .orderBy("suppkey")
    )


def cumulative_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T104 — month-grain order revenue with running cumulative total and
    share-of-grand-total — the finance "pacing" view (exact decimal
    everywhere; the running sum is a window over ~tens of month rows, so
    the unbounded-preceding frame is cheap by construction).
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.sum(money("o_totalprice")).alias("rev_dec"))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    total = monthly.agg(F.sum("rev_dec").alias("total_dec"))
    return (
        monthly.crossJoin(F.broadcast(total))
        .select(
            "month",
            F.round(F.col("rev_dec").cast("double"), 6).alias("revenue"),
            F.round(F.sum("rev_dec").over(w).cast("double"), 6).alias(
                "cum_revenue"
            ),
            F.round(
                F.col("rev_dec").cast("double")
                / F.col("total_dec").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("month")
    )


def gap_filled_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T111 — time-series densification: revenue per day over one month
    with missing days zero-filled (calendar spine ⋈ left join).

    The resample/gap-fill operator every downstream charting or
    forecasting step needs: a generated day spine (``sequence`` +
    ``explode`` — no source scan) left-joins the date-pruned daily agg;
    absent days surface as 0.00 rather than silently missing. Scale: the
    spine is O(days) rows on one task and broadcast; the fact side is
    date-pruned at the parquet scan.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-02-01")
    )
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(money("o_totalprice")).alias("rev_dec"),
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-01-31").cast("date"),
            )
        ).alias("day")
    )
    return (
        spine.join(F.broadcast(daily), "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.round(
                F.coalesce(F.col("rev_dec").cast("double"), F.lit(0.0)), 6
            ).alias("revenue"),
        )
        .orderBy("day")
    )


def brand_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T113 — second-moment statistics per brand: stddev of quantity,
    covariance and correlation of (quantity, extendedprice) — computed
    DETERMINISTICALLY.

    Built-in ``stddev``/``corr`` accumulate doubles in partition order,
    so their last bits vary run-to-run at scale; here the five sufficient
    statistics (Σx, Σy, Σx², Σy², Σxy) accumulate as EXACT decimals (one
    map-side-combined agg pass), and the textbook formulas combine them
    in ONE deterministic IEEE expression each at the very end. Same
    recipe DuckDB runs — bit-identical hashes. This is the scale pattern
    for any moment-based statistic: exact partials, float only at the
    final reduce.
    """
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", money("l_quantity").alias("x"), money("l_extendedprice").alias("y")
    )
    suff = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return suff.select(
        "p_brand",
        "n",
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))), 6).alias(
            "stddev_qty"
        ),
        F.round((sxy - sx * sy / n) / (n - F.lit(1.0)), 6).alias("covar_qty_price"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    ).orderBy("p_brand")


def customer_order_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T114 — array aggregation: each customer's distinct order years as
    a SORTED array (deterministic — ``collect_set`` alone has no order)
    plus order count.

    The nested-result shape (one row per entity, list-valued column)
    that feeds feature stores and JSON exports. Scale: one hash-agg on
    custkey; the array is bounded by the year span, not the order count.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").cast("long").alias("custkey"))
        .agg(
            F.sort_array(
                F.collect_set(F.year("o_orderdate").cast("int"))
            ).alias("years"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .orderBy("custkey")
    )


def customer_order_years_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T114 (driver form) — :func:`customer_order_years` with the
    ``years`` array emitted as a canonical comma-joined string.

    The oracle harness canonicalizes results with pandas, which cannot
    factorize list-valued cells; joining the already-sorted array into
    one string keeps the comparison bit-stable while the array-returning
    operator above stays available to library callers.
    """
    return customer_order_years(spark, sf_dir).select(
        "custkey",
        F.array_join(F.col("years").cast("array<string>"), ",").alias("years"),
        "n_orders",
    )


def segment_priority_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T115 — the full rank-function family over one grouped frame:
    ``rank``, ``dense_rank``, ``percent_rank``, ``cume_dist`` of order
    priorities by order count within each customer segment.

    Determinism: the window orders by (n_orders DESC, priority) — a
    total order, so every rank flavor is stable under any partitioning.
    Scale: the window runs over segments × priorities ≈ 25 rows, AFTER
    the aggregation collapsed the fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    counts = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n_orders").desc(), F.col("o_orderpriority").asc()
    )
    return counts.select(
        "c_mktsegment",
        "o_orderpriority",
        "n_orders",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("dense_rnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("c_mktsegment", "rnk", "o_orderpriority")


def unpivoted_pricing_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T118 — UNPIVOT (wide → long): the per-(returnflag, linestatus)
    pricing summary melted into (flag, status, metric, value) rows.

    The inverse of T36's pivot, and the standard bridge from wide
    aggregate tables to metric-per-row stores (dashboards, time-series
    sinks). ``unpivot`` is a zero-shuffle projection — each wide row
    yields one narrow row per metric column, after aggregation has
    already collapsed the data, so the operator costs nothing at scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(money("l_quantity")).alias("sum_qty"),
            dsum(money("l_extendedprice")).alias("sum_price"),
            davg(rate("l_discount")).alias("avg_disc"),
        )
    )
    return (
        wide.unpivot(
            ["l_returnflag", "l_linestatus"],
            ["sum_qty", "sum_price", "avg_disc"],
            "metric",
            "value",
        )
        .orderBy("l_returnflag", "l_linestatus", "metric")
    )


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T125 — MERGE INTO (SCD-1 upsert): apply a changeset of updates /
    deletes / inserts to a snapshot in one pass.

    The data-management primitive every warehouse sink needs (Delta/
    Iceberg MERGE; the reference has no equivalent — its sinks are
    append-only files). Spark-first shape: ONE full-outer join on the
    key, then row-level CASE — no per-row driver logic, and with both
    sides bucketed by key at 100 TB the join is shuffle-free.

    The changeset is derived deterministically from the snapshot itself
    so the oracle can state the result in closed form: custkey % 17 = 0
    rows are deleted, custkey % 10 = 0 (and not deleted) get acctbal +
    100, and custkey % 23 = 0 rows re-enter as fresh inserts under key +
    1,000,000.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("custkey"),
        "c_name",
        F.col("c_acctbal").cast("decimal(12,2)").alias("acctbal"),
    )
    updates = cust.where(
        (F.col("custkey") % 10 == 0) & (F.col("custkey") % 17 != 0)
    ).select(
        "custkey",
        F.lit("U").alias("op"),
        F.lit(None).cast("string").alias("new_name"),
        (F.col("acctbal") + F.lit(100).cast("decimal(12,2)")).alias("new_acctbal"),
    )
    deletes = cust.where(F.col("custkey") % 17 == 0).select(
        "custkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("new_name"),
        F.lit(None).cast("decimal(12,2)").alias("new_acctbal"),
    )
    inserts = cust.where(F.col("custkey") % 23 == 0).select(
        (F.col("custkey") + F.lit(1000000)).alias("custkey"),
        F.lit("I").alias("op"),
        F.concat(F.lit("NEW-"), F.col("custkey").cast("string")).alias("new_name"),
        F.lit(0).cast("decimal(12,2)").alias("new_acctbal"),
    )
    changes = updates.unionAll(deletes).unionAll(inserts)
    merged = cust.alias("s").join(changes.alias("c"), "custkey", "full_outer")
    return (
        merged.where(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            "custkey",
            F.coalesce(F.col("c.new_name"), F.col("s.c_name")).alias("name"),
            F.round(
                F.coalesce(F.col("c.new_acctbal"), F.col("s.acctbal")).cast(
                    "double"
                ),
                6,
            ).alias("acctbal"),
            F.when(F.col("c.op") == "U", F.lit("updated"))
            .when(F.col("c.op") == "I", F.lit("inserted"))
            .otherwise(F.lit("kept"))
            .alias("row_op"),
        )
        .orderBy("custkey")
    )


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T147 — table-versioning diff: compare the customer snapshot
    BEFORE and AFTER the t125 merge and emit one row per difference
    (``added`` / ``removed`` / ``changed`` with old/new balances) — the
    audit report a lakehouse produces between two table versions.

    One full-outer join on the key classifies every row; unchanged rows
    are filtered before the exchange result leaves the join stage. With
    both versions bucketed by key at 100 TB the join is shuffle-free,
    which is exactly how Delta/Iceberg snapshot diffs are computed.
    """
    before = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("custkey"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("old_bal"),
    )
    after = merge_upsert(spark, sf_dir).select(
        "custkey", F.col("acctbal").alias("new_bal")
    )
    j = before.join(after, "custkey", "full_outer")
    change = (
        F.when(F.col("old_bal").isNull(), F.lit("added"))
        .when(F.col("new_bal").isNull(), F.lit("removed"))
        .when(F.col("old_bal").cast("double") != F.col("new_bal"), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(
            "custkey",
            "change",
            F.round(F.col("old_bal").cast("double"), 6).alias("old_acctbal"),
            F.round(F.col("new_bal"), 6).alias("new_acctbal"),
        )
        .orderBy("custkey", "change")
    )


def price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T148 — robust per-brand outlier report: median, MAD (median
    absolute deviation), and the count of parts more than 3 MADs from
    the median — the outlier rule that, unlike mean/stddev z-scores,
    is not dragged by the outliers themselves.

    Scale shape: two window passes over the SAME brand partitioning
    (one exchange total — the second window reuses the first's
    shuffle): exact interpolated percentile for the median, then the
    median of |x − median|. Both engines interpolate linearly over
    identical doubles, and the 3·MAD comparison is the identical IEEE
    expression on both sides.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", F.col("p_retailprice").cast("double").alias("price")
    )
    wb = Window.partitionBy("p_brand")
    med = part.withColumn("med", F.expr("percentile(price, 0.5)").over(wb))
    mad = med.withColumn(
        "mad", F.expr("percentile(abs(price - med), 0.5)").over(wb)
    )
    return (
        mad.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(F.max("med"), 6).alias("median_price"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.abs(F.col("price") - F.col("med")) > 3.0 * F.col("mad"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("p_brand")
    )


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T167 — per-brand size-weighted median retail price via a
    GROUPED_AGG ``pandas_udf`` (scalar, mapInPandas and UDTF are
    registered elsewhere): a custom aggregate that Spark's built-ins
    can't express, pushed into the hash-agg like any native function.

    Definition is integer-exact so both engines agree bit-for-bit: sort
    the group by price and take the smallest price whose doubled
    cumulative weight reaches the group's total weight (lower weighted
    median — no interpolation, no float thresholds). The oracle
    restates it with a cumulative-sum window.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar type hints make this a GROUPED_AGG UDF (the
    # PandasUDFType enum form is deprecated, SPARK-28264). The module's
    # `from __future__ import annotations` stringifies inline hints and
    # pyspark can't resolve the locally-imported `pd` from them, so the
    # annotation OBJECTS are attached explicitly before wrapping.
    def _wmedian(price, weight):
        order = np.lexsort((price.to_numpy(),))
        p = price.to_numpy()[order]
        w = weight.to_numpy()[order].astype(np.int64)
        cum = np.cumsum(w)
        total = int(cum[-1])
        idx = int(np.searchsorted(2 * cum, total))
        return float(p[idx])

    _wmedian.__annotations__ = {
        "price": pd.Series,
        "weight": pd.Series,
        "return": float,
    }
    wmedian = pandas_udf(_wmedian, "double")

    part = load_table(spark, sf_dir, "part")
    # a GROUPED_AGG UDF cannot share an agg with native functions —
    # counts come from a second brand-grain agg, joined broadcast-small
    med = part.groupBy("p_brand").agg(
        F.round(
            wmedian(F.col("p_retailprice").cast("double"), F.col("p_size")), 6
        ).alias("weighted_median_price")
    )
    counts = part.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_parts")
    )
    return (
        counts.join(med, "p_brand")
        .select("p_brand", "n_parts", "weighted_median_price")
        .orderBy("p_brand")
    )


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T171 — constraint audit across the star schema: orphaned facts
    (lineitem without its order, order without its customer), childless
    orders, and duplicate primary keys — the checks a warehouse runs
    because it cannot afford enforced constraints at load time (exactly
    Spark/lakehouse reality at 100 TB).

    Each check is a semi/anti join or a keyed count>1 aggregation —
    shuffle-free against broadcast dimension keys at test scale,
    bucketed joins at 100 TB — emitted long-form (check, n_violations)
    so adding checks never changes the schema.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def count_df(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check"),
            F.count("*").cast("long").alias("n_violations"),
        )

    orphan_li = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    orphan_orders = orders.join(
        customer.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    childless = orders.join(
        li.select("l_orderkey").distinct(),
        orders.o_orderkey == F.col("l_orderkey"),
        "left_anti",
    )
    dup_orders = (
        orders.groupBy("o_orderkey").count().where(F.col("count") > 1)
    )
    dup_li = (
        li.groupBy("l_orderkey", "l_linenumber")
        .count()
        .where(F.col("count") > 1)
    )
    return (
        count_df("orphan_lineitems", orphan_li)
        .unionAll(count_df("orphan_orders", orphan_orders))
        .unionAll(count_df("childless_orders", childless))
        .unionAll(count_df("duplicate_order_keys", dup_orders))
        .unionAll(count_df("duplicate_lineitem_keys", dup_li))
        .orderBy("check")
    )


def price_bins_equidepth(spark: SparkSession, sf_dir: str, n_bins: int = 10) -> DataFrame:
    """T176 — equi-depth binning boundaries for feature engineering:
    NTILE(10) over lineitem's extended price, reporting each bin's
    row count and [min, max] edge — the bucketizer table an ML feature
    pipeline persists so training and serving bin identically.

    NTILE over a global order is the one window that genuinely needs a
    total sort; at 100 TB the equivalent plan samples range boundaries
    (rangepartitioning does exactly this) so the sort is distributed —
    Spark's physical plan here IS that: range-partition then local sort,
    no single-node bottleneck. Ties across bin edges are deterministic
    because the sort key includes the rowid tiebreak.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.orderBy("price", "l_orderkey", "l_linenumber")
    return (
        li.withColumn("bin", F.ntile(n_bins).over(w))
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.min("price"), 6).alias("bin_min"),
            F.round(F.max("price"), 6).alias("bin_max"),
        )
        .select(F.col("bin").cast("integer").alias("bin"), "n_rows", "bin_min", "bin_max")
        .orderBy("bin")
    )


def largest_remainder_allocation(
    spark: SparkSession, sf_dir: str, budget: int = 1000
) -> DataFrame:
    """T177 — fair quota allocation by largest remainder (Hare method):
    split a global sampling budget of 1000 docs across sources
    proportionally to corpus share, exactly — floors first, then the
    leftover seats go to the largest fractional remainders (ties by
    source asc). The deterministic answer to "how many docs does each
    source contribute to a fixed-size eval set".

    Integer-exact throughout: quota numerators stay as products
    (count·budget), floors and remainders are integer division/modulo,
    and the leftover count is derived from the same integers — no float
    anywhere, so both engines agree bit-for-bit. Source-grain table,
    window over a handful of rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    total = counts.groupBy().agg(F.sum("n_docs").alias("n_total"))
    quotas = counts.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        (F.col("n_docs") * budget).alias("num"),
        "n_total",
    )
    base = quotas.withColumn(
        "floor_seats", (F.col("num") / F.col("n_total")).cast("long")
    ).withColumn("remainder", F.col("num") % F.col("n_total"))
    wsum = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wrank = Window.orderBy(F.col("remainder").desc(), F.col("source").asc())
    return (
        base.withColumn("leftover", budget - F.sum("floor_seats").over(wsum))
        .withColumn("rr", F.row_number().over(wrank))
        .select(
            "source",
            "n_docs",
            (
                F.col("floor_seats")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("allocated"),
        )
        .orderBy("source")
    )


def weekday_revenue_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T178 — seasonality profile: order revenue by day-of-week with each
    day's share of the total — the first seasonality cut an analyst
    takes before any decomposition model.

    One hash-agg on a 7-value key with exact-decimal revenue partials;
    the total rides back in as a broadcast single-row aggregate and the
    share is one IEEE division. Day numbering pinned to Spark's
    ``dayofweek`` (1=Sunday) with the oracle shifted to match.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_dow = orders.groupBy(
        F.dayofweek(F.col("o_orderdate")).cast("integer").alias("dow")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(money("o_totalprice")).alias("rev_dec"),
    )
    total = per_dow.groupBy().agg(F.sum("rev_dec").alias("total_dec"))
    return (
        per_dow.crossJoin(F.broadcast(total))
        .select(
            "dow",
            "n_orders",
            F.round(F.col("rev_dec").cast("double"), 6).alias("revenue"),
            F.round(
                F.col("rev_dec").cast("double") / F.col("total_dec").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("dow")
    )


def discount_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T180 — grouped OLS: per-brand slope of quantity on discount (the
    "does discounting move volume for this brand" regression), computed
    from EXACT decimal moment sums — both regressors are 2-decimal
    columns, so Σx, Σy, Σxy, Σx² are exact and the closed-form slope is
    one fixed IEEE expression per group; ``regr_slope``'s running double
    accumulation would be partitioning-dependent.

    One scan of the fact joined to the broadcast part dimension, one
    map-side-combined hash-agg per brand — the grouped-regression
    template (t142's Zipf fit, per group).

    Moment arithmetic (r19, results-identical — guide §2.3 narrower
    types; r19 scaled-int moments probe: −25% steady-state at both
    tiers, equality-gated): the 2-decimal regressors are carried as
    SCALED LONGS (x·100, y·100) so the per-row multiply-adds are
    integer codegen instead of five JVM-Decimal chains, with ONE
    correctly-rounded division per aggregate at the end. Bit-exact with
    the decimal form: the decimal path rounds the exact rational
    v/10^s to double once at the final cast; the long path holds v
    exactly (TPC-H domain: x·100 ≤ 10, y·100 ≤ 5000 ⇒ Σ(x·y·10⁴) ≤
    3e12 at sf1), converts exactly (< 2^53) and divides by the exact
    power of ten — the same single rounding. The paths could diverge
    by 1 ulp only once a scaled sum exceeds 2^53 (~2e11 worst-case
    rows per brand); at that volume re-shard the group or return to
    the decimal form (kept verbatim in the shootout tool).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(load_table(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    j = li.join(part, li.l_partkey == F.col("p_partkey"))
    x100 = (F.col("l_discount").cast("decimal(12,2)") * 100).cast("long")
    y100 = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long")
    m = j.groupBy("p_brand").agg(
        F.count("*").cast("double").alias("n"),
        (F.sum(x100).cast("double") / 100.0).alias("sx"),
        (F.sum(y100).cast("double") / 100.0).alias("sy"),
        (F.sum(x100 * y100).cast("double") / 10000.0).alias("sxy"),
        (F.sum(x100 * x100).cast("double") / 10000.0).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
    ).orderBy("p_brand")


#: ONE SQL text, two engines: the recursive hierarchy rollup is written in
#: the common dialect and used verbatim as both the Spark query and the
#: DuckDB oracle — the strongest possible parity statement for the
#: recursive-CTE surface (Spark 4's WITH RECURSIVE).
RECURSIVE_ROLLUP_SQL = """WITH RECURSIVE
cust_rev AS (
  SELECT o_custkey AS custkey,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
  FROM orders GROUP BY o_custkey
),
edges AS (
  SELECT 0 AS child_level, c_custkey AS child_id,
         1 AS parent_level, c_nationkey AS parent_id
  FROM customer
  UNION ALL
  SELECT 1, n_nationkey, 2, n_regionkey FROM nation
),
closure(child_level, child_id, anc_level, anc_id) AS (
  SELECT child_level, child_id, parent_level, parent_id FROM edges
  UNION ALL
  SELECT c.child_level, c.child_id, e.parent_level, e.parent_id
  FROM closure c JOIN edges e
    ON e.child_level = c.anc_level AND e.child_id = c.anc_id
)
SELECT anc_level, anc_id,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(rev) AS DOUBLE), 6) AS revenue
FROM closure JOIN cust_rev
  ON child_level = 0 AND child_id = custkey
GROUP BY anc_level, anc_id
ORDER BY anc_level, anc_id"""


def recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T184 — generic hierarchy rollup via Spark 4's ``WITH RECURSIVE``:
    walk the containment DAG (customer → nation → region, encoded as a
    level-tagged edge table) to its transitive closure, then aggregate
    customer revenue to EVERY ancestor — the arbitrary-depth org-chart /
    BOM rollup fixed-depth joins can't express, on the star schema's
    natural hierarchy.

    The recursion is acyclic by construction (levels strictly increase)
    so UNION ALL terminates; per-customer revenue is an exact decimal
    sum computed ONCE below the closure join. The SAME SQL text runs on
    both engines (it is the oracle verbatim) — common-dialect recursive
    CTEs are the parity statement here.
    """
    from mapreduce_google_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(RECURSIVE_ROLLUP_SQL)


def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T187 — winsorized robust moments: per brand, the mean/min/max of
    retail prices AFTER clipping to the brand's exact [p01, p99] — the
    standard tail-taming transform before feature scaling (unlike
    trimming, winsorization keeps row count).

    Two percentile windows share one brand exchange (t148's plan
    shape); clipping is codegen column math; the winsorized mean uses
    the decimal-quantize recipe so its sum is order-independent.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", F.col("p_retailprice").cast("double").alias("price")
    )
    wb = Window.partitionBy("p_brand")
    bounded = part.withColumn(
        "lo", F.expr("percentile(price, 0.01)").over(wb)
    ).withColumn("hi", F.expr("percentile(price, 0.99)").over(wb))
    clipped = bounded.withColumn(
        "w_price", F.least(F.greatest(F.col("price"), F.col("lo")), F.col("hi"))
    )
    return (
        clipped.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(F.min("w_price"), 6).alias("w_min"),
            F.round(F.max("w_price"), 6).alias("w_max"),
            F.round(
                F.sum(F.round(F.col("w_price"), 6).cast("decimal(20,12)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("w_mean"),
        )
        .orderBy("p_brand")
    )


#: second verbatim-shared statement (t184's recursive rollup being the
#: first): modern-dialect surface — GROUP BY ALL, aggregate FILTER
#: clauses, exact-decimal accumulation, and a window over the aggregate —
#: one text, two engines.
SHARED_DIALECT_SQL = """WITH seg AS (
  SELECT c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(count(*) FILTER (WHERE c_acctbal > 5000) AS BIGINT) AS n_rich,
         CAST(count(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS n_negative,
         CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
  FROM customer
  GROUP BY ALL
)
SELECT segment, n_customers, n_rich, n_negative,
       round(total_bal, 6) AS total_bal,
       CAST(rank() OVER (ORDER BY total_bal DESC, segment) AS INTEGER)
           AS bal_rank
FROM seg
ORDER BY segment"""


def shared_dialect_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T188 — modern-SQL dialect parity, verbatim: GROUP BY ALL,
    aggregate FILTER clauses, exact-decimal sums, and a rank window over
    the aggregate, in ONE statement that runs unchanged on Spark and
    DuckDB (the oracle IS this text — t184's recursive rollup proved
    the recursion surface; this proves the day-to-day analytics
    dialect)."""
    from mapreduce_google_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(SHARED_DIALECT_SQL)


def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T191 — 2-D skyline: parts not dominated on (price, size) — no
    other part is ≤ on both and < on one ("cheapest for its size
    class"). The multi-criteria shortlist operator warehouses express
    with a quadratic NOT EXISTS; in dataflow the 2-D case collapses to
    ONE sorted window pass — sort by (price asc, size asc, key), keep a
    row iff its size is strictly below the running minimum size of all
    STRICTLY CHEAPER rows — O(n log n), no self-join anywhere.

    Equal values need care (domination requires strict inequality
    somewhere): collapse to per-price minimum sizes first, run the
    running-min over STRICTLY cheaper distinct prices (a
    price-cardinality-sized window), and join back — a row survives iff
    it holds its price's minimum size AND beats the best size among all
    cheaper prices. (price, size) ties are all kept. The oracle states
    the quadratic NOT-EXISTS textbook definition directly, proving the
    sweep equivalent.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    per_price = part.groupBy("price").agg(F.min("size").alias("pmin"))
    wp = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    cheaper = per_price.withColumn("min_cheaper", F.min("pmin").over(wp))
    return (
        part.join(cheaper, "price")
        .where(
            (F.col("size") == F.col("pmin"))
            & (
                F.col("min_cheaper").isNull()
                | (F.col("size") < F.col("min_cheaper"))
            )
        )
        .select("p_partkey", F.round("price", 6).alias("price"), "size")
        .orderBy("p_partkey")
    )


def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T195 — hierarchical contribution: each nation's share of its
    REGION's revenue and of the GLOBAL total in one result — the
    ratio-to-parent / ratio-to-report pattern, computed with two window
    sums over the nation-grain aggregate (no re-scan, no join back).

    Revenue aggregates to nation grain first with exact decimals (the
    t09 shape); both shares are IEEE divisions of exactly-accumulated
    operands, so the window denominator equals the sum of its
    numerators bit-for-bit.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("rev")
    )
    per_nation = (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("rev").alias("rev_dec"))
    )
    wr = Window.partitionBy("r_name")
    wg = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return per_nation.select(
        "r_name",
        "n_name",
        F.round(F.col("rev_dec").cast("double"), 6).alias("revenue"),
        F.round(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(wr).cast("double"),
            6,
        ).alias("share_of_region"),
        F.round(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(wg).cast("double"),
            6,
        ).alias("share_of_total"),
    ).orderBy("r_name", "n_name")


def price_quantity_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T197 — 2-D histogram: lineitem binned on (price, quantity) into a
    fixed equi-width grid with exact-decimal revenue per cell — the
    density grid behind every heatmap, and the cheap joint-distribution
    summary a planner's multi-column statistics need.

    Bin ids are integer arithmetic on exact decimals (floor of value
    over width — no float boundary wobble); one map-side-combined
    hash-agg on the (row, col) cell key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price_bin = F.floor(money("l_extendedprice") / F.lit(10000)).cast("long")
    qty_bin = F.floor(money("l_quantity") / F.lit(10)).cast("long")
    return (
        li.groupBy(price_bin.alias("price_bin"), qty_bin.alias("qty_bin"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dsum(money("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("price_bin", "qty_bin")
    )


def rolling_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T198 — rolling 7-day revenue by RANGE frame: per order day, the
    sum of revenue over the trailing week BY VALUE (RANGE BETWEEN 6
    PRECEDING AND CURRENT ROW over the day number) — the frame that
    stays correct when days are MISSING, where a ROWS frame would
    silently reach further back. The registry's first RANGE-frame
    query; everything else uses ROWS.

    Daily revenue aggregates exactly first (tiny day-grain table); the
    RANGE window runs over day numbers with decimal revenue summed
    inside the frame — order-independent because the frame content is
    value-determined, not tie-ordered.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("day_num"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(money("o_totalprice")).alias("rev_dec"))
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day",
        F.round(F.col("rev_dec").cast("double"), 6).alias("day_revenue"),
        F.round(F.sum("rev_dec").over(w).cast("double"), 6).alias(
            "trailing_7d_revenue"
        ),
        F.count("*").over(w).cast("long").alias("n_days_in_window"),
    ).orderBy("day")


def quantile_transform_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T201 — quantile (rank) transform: map part prices to uniform
    (0, 1) by rank/(n+1) — the monotone normalization robust to any
    distribution shape, persisted per brand so serving can replay it.

    percent-style rank with AVERAGE tie handling ((min_rank + max_rank)
    / 2, the scikit-learn default) so equal prices get equal quantiles:
    two rank windows per brand partition, integer arithmetic until the
    final division.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", F.col("p_retailprice").cast("double").alias("price")
    )
    wb = Window.partitionBy("p_brand").orderBy("price")
    wn = Window.partitionBy("p_brand")
    ranked = part.withColumn("rmin", F.rank().over(wb)).withColumn(
        "cnt_le",
        F.count("*").over(
            Window.partitionBy("p_brand")
            .orderBy("price")
            .rangeBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("n", F.count("*").over(wn))
    # average rank of a tie group = (min_rank + max_rank) / 2, where
    # max_rank = count of rows with price <= this one
    q = (F.col("rmin") + F.col("cnt_le")).cast("double") / (
        2.0 * (F.col("n") + 1).cast("double")
    )
    return ranked.select(
        "p_partkey",
        "p_brand",
        F.round("price", 6).alias("price"),
        F.round(q, 6).alias("quantile"),
    ).orderBy("p_partkey")


def weekday_adjusted_anomalies(
    spark: SparkSession, sf_dir: str, z_threshold: float = 2.0
) -> DataFrame:
    """T204 — seasonality-corrected anomaly detection: daily order
    revenue flagged where it sits more than 2 population std-devs from
    ITS WEEKDAY's mean — the correction that stops every Sunday from
    alerting just for being a Sunday (t154's z-score recipe, grouped by
    the t178 seasonal key).

    Daily revenue aggregates exactly once; weekday moments come from
    exact decimal sums over that day-grain table and join back
    broadcast-small. The z expression is fixed IEEE on deterministic
    operands.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        F.dayofweek(F.col("o_orderdate")).cast("integer").alias("dow"),
    ).agg(F.sum(money("o_totalprice")).alias("rev_dec"))
    moments = daily.groupBy("dow").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("rev_dec").cast("double").alias("s"),
        F.sum(
            (
                F.col("rev_dec").cast("double") * F.col("rev_dec").cast("double")
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    z = (F.col("rev_dec").cast("double") - mean) / std
    return (
        daily.join(F.broadcast(moments), "dow")
        .where(F.abs(z) > z_threshold)
        .select(
            "day",
            "dow",
            F.round(F.col("rev_dec").cast("double"), 6).alias("revenue"),
            F.round(mean, 6).alias("weekday_mean"),
            F.round(z, 6).alias("z_score"),
        )
        .orderBy("day")
    )


def shipping_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T208 — operational SLA: per order priority, the fraction of line
    items shipped within 30/60/90 days of the order date — the
    conditional-share report every ops dashboard leads with.

    One fact-fact join pre-filtered to the needed columns, day deltas
    as exact integer date arithmetic, and the three shares as
    conditional sums over one hash-agg (no repeated scans per
    threshold).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lag_days"),
    )
    def share(days: int):
        return F.round(
            F.sum(F.when(F.col("lag_days") <= days, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            share(30).alias("within_30d"),
            share(60).alias("within_60d"),
            share(90).alias("within_90d"),
        )
        .orderBy("o_orderpriority")
    )


def supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T209 — market concentration: the Herfindahl–Hirschman index of
    supplier revenue within each nation — Σ share² over suppliers, the
    antitrust-style "is this nation's supply concentrated" number.

    Supplier revenue aggregates exactly once; shares are IEEE divisions
    of exact decimals and each share² is quantized to decimal(20,12)
    before the per-nation sum, so the index is order-independent.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = money("l_extendedprice") * one_minus("l_discount")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_dec"))
    j = per_supp.join(supplier, per_supp.l_suppkey == supplier.s_suppkey).join(
        nation, supplier.s_nationkey == nation.n_nationkey
    )
    wn = Window.partitionBy("n_name")
    share = F.col("rev_dec").cast("double") / F.sum("rev_dec").over(wn).cast(
        "double"
    )
    return (
        j.select("n_name", (share * share).cast("decimal(20,12)").alias("s2"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.round(F.sum("s2").cast("double"), 6).alias("hhi"),
        )
        .orderBy("n_name")
    )


def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T210 — the 80/20 report: what share of total order revenue comes
    from the top 1%/10%/25% of customers by spend — the concentration
    curve read before any retention or pricing decision.

    Customer spend aggregates exactly once; customers rank by (spend
    desc, key) and each percentile tier is a conditional share against
    the exact total — one customer-grain window pass, integer
    cross-multiplication for the tier cut (rank·100 ≤ p·n), no float
    boundary.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("spend_dec")
    )
    w = Window.orderBy(F.col("spend_dec").desc(), F.col("o_custkey").asc())
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = spend.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wall)
    ).withColumn("total", F.sum("spend_dec").over(wall))
    def tier(p: int):
        return F.round(
            F.sum(
                F.when(F.col("rnk") * 100 <= F.lit(p) * F.col("n"), F.col("spend_dec"))
                .otherwise(F.lit(0).cast("decimal(12,2)"))
            ).cast("double")
            / F.max("total").cast("double"),
            6,
        )
    return ranked.groupBy().agg(
        F.max("n").cast("long").alias("n_customers"),
        tier(1).alias("top1_share"),
        tier(10).alias("top10_share"),
        tier(25).alias("top25_share"),
    )


def reorder_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T211 — repeat-purchase cadence: each repeat customer's MEDIAN gap
    between consecutive orders, summarized as the count of repeat
    customers and the p25/p50/p75 of those per-customer medians — the
    two-level percentile that tells you how often "a typical customer"
    reorders, robust to both outlier customers and outlier gaps.

    One lag window per customer for gaps (exact integer days), an exact
    per-customer median, then global percentiles over the
    customer-grain medians — each level is the interpolated-percentile
    recipe with deterministic operands.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = orders.withColumn(
        "gap_days", F.datediff(F.col("d"), F.lag("d").over(w))
    ).where(F.col("gap_days").isNotNull())
    per_cust = gaps.groupBy("o_custkey").agg(
        F.expr("percentile(gap_days, 0.5)").alias("median_gap")
    )
    return per_cust.agg(
        F.count("*").cast("long").alias("n_repeat_customers"),
        F.round(F.expr("percentile(median_gap, 0.25)"), 6).alias("p25_median_gap"),
        F.round(F.expr("percentile(median_gap, 0.5)"), 6).alias("p50_median_gap"),
        F.round(F.expr("percentile(median_gap, 0.75)"), 6).alias("p75_median_gap"),
    )


def monthly_ship_lag_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T212 — lead-time trend: mean order→ship lag in days per order
    month, with the month-over-month delta — the time series that shows
    a fulfillment pipeline degrading before SLA breaches (t208) pile
    up.

    Exact integer day lags accumulate in decimal for an
    order-independent mean; the MoM delta is one lag window over the
    month-grain result. Fact-fact join pre-projected to three columns.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lag_days"),
    )
    monthly = j.groupBy("month").agg(
        F.count("*").cast("long").alias("n_lineitems"),
        F.round(
            F.sum(F.col("lag_days").cast("decimal(20,0)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_lag_days"),
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "n_lineitems",
        "mean_lag_days",
        F.round(
            F.col("mean_lag_days") - F.lag("mean_lag_days").over(w), 6
        ).alias("mom_delta"),
    ).orderBy("month")


def full_star_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T215 — the widest join in the registry: lineitem against ALL six
    other star tables (orders, customer, part, supplier, both
    geography dims) at once, rolling profit-proxy revenue up to
    (region, customer nation, supplier nation, part brand) — the query
    shape that stresses join ORDER, and where Catalyst's reordering +
    broadcast decisions earn their keep.

    Scale notes: the two fact-fact joins key on orderkey/partkey/
    suppkey (bucketed at 100 TB); all four dimension hops broadcast;
    revenue pre-aggregates to order grain only after the part/supplier
    filters that need line grain, so the heavy exchange carries
    line-grain rows exactly once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    )
    supplier = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    cust_nation = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"),
            F.col("n_regionkey").alias("cn_region"),
        )
    )
    supp_nation = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    rev = money("l_extendedprice") * one_minus("l_discount")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(cust_nation, customer.c_nationkey == F.col("cn_key"))
        .join(supp_nation, supplier.s_nationkey == F.col("sn_key"))
        .join(region, F.col("cn_region") == region.r_regionkey)
        .groupBy("r_name", "cust_nation", "supp_nation", "p_brand")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dsum(rev).alias("revenue"),
        )
        .orderBy("r_name", "cust_nation", "supp_nation", "p_brand")
    )


def order_value_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T217 — exact two-sample Kolmogorov–Smirnov statistic between 1996
    and 1997 order values: sup over values of |F96(v) − F97(v)| — the
    distribution-shift test run when "did pricing change" needs a
    number, computed exactly instead of sampled.

    Tie-safe by construction: values collapse to (value, n94, n95)
    FIRST, so the running CDFs advance once per DISTINCT value — the
    sup over that grid is the textbook statistic. One value-grain
    window ordered by value; counts are exact integers and each CDF is
    one IEEE division.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_totalprice").cast("double").alias("v"),
    ).where(F.col("yr").isin(1996, 1997))
    per_value = orders.groupBy("v").agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("n94"),
        F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0)).alias("n95"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cdfs = per_value.select(
        (
            F.sum("n94").over(w).cast("double")
            / F.sum("n94").over(wall).cast("double")
        ).alias("f94"),
        (
            F.sum("n95").over(w).cast("double")
            / F.sum("n95").over(wall).cast("double")
        ).alias("f95"),
        F.sum("n94").over(wall).alias("t94"),
        F.sum("n95").over(wall).alias("t95"),
    )
    return cdfs.agg(
        F.max("t94").cast("long").alias("n_1996"),
        F.max("t95").cast("long").alias("n_1997"),
        F.round(F.max(F.abs(F.col("f94") - F.col("f95"))), 6).alias("ks_stat"),
    )


def order_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T221 — the count-of-counts everyone forgets to look at: how many
    orders have exactly k line items, with each k's share — the fanout
    histogram that sizes join exchanges (t137 profiles percentiles of
    it; this is the full distribution a capacity model consumes).

    Two stacked map-side hash-aggs (order grain, then k grain); shares
    are one IEEE division against the exact order total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count("*").alias("k"))
    dist = per_order.groupBy("k").agg(F.count("*").cast("long").alias("n_orders"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return dist.select(
        F.col("k").cast("long").alias("lines_per_order"),
        "n_orders",
        F.round(
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(wall).cast("double"),
            6,
        ).alias("share"),
    ).orderBy("lines_per_order")


#: shared by the Spark builder AND the DuckDB oracle of T236 — both
#: engines run the SAME recursive algorithm (Spark 4 WITH RECURSIVE
#: supports UNION ALL recursion; the walk is acyclic so that is exact)
ORG_SUBTREE_SQL = """
    WITH RECURSIVE anc AS (
        SELECT c_custkey AS node, c_custkey AS descendant, c_acctbal AS bal
        FROM customer
        UNION ALL
        SELECT CAST((node - node % 2) / 2 AS BIGINT), descendant, bal
        FROM anc WHERE node > 1
    )
    SELECT node, CAST(count(*) AS BIGINT) AS subtree_n,
           round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS subtree_bal
    FROM anc WHERE node BETWEEN 1 AND 7
    GROUP BY node ORDER BY node
"""


def org_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T236 — hierarchical subtree aggregation via a RECURSIVE CTE
    (Spark 4's ``WITH RECURSIVE``): subtree size and balance rollup for
    the top three levels of a synthetic org tree over customers
    (parent(n) = n//2 — a binary hierarchy derived from the key, so the
    walk is deterministic and acyclic).

    The capability this demonstrates is iteration INSIDE the engine:
    the reference could only express an ancestor walk as K chained
    MapReduce jobs with the driver deciding K; a recursive CTE lets the
    engine iterate to fixpoint in one query — the same gap the
    driver-looped connected components (t48) fills imperatively, now in
    pure SQL. Cost shape: each iteration is one hash join of the
    frontier against nothing (the parent is computed, not joined) —
    rows ≈ N·depth ≈ N·log₂N — and every iteration is a narrow
    map, so the plan scales like a bounded loop of projections, not a
    self-join explosion. Both the Spark side and the DuckDB oracle run
    the IDENTICAL recursive SQL (``ORG_SUBTREE_SQL``).

    Scale note: Spark guards runaway recursion with
    ``spark.sql.cteRecursionRowLimit`` (default 10^6 TOTAL rows across
    iterations — a safety valve, not a semantic bound). This walk's
    total is the algorithm's honest cost, N·(log₂N+1), which crosses
    the default around N≈60k customers (found by the sf1 wave run —
    the query worked at sf0.1 and died at 10×). The builder sizes the
    valve to the data: N from parquet footer metadata (no scan), limit
    = 4·N·(log₂N+2), so the guardrail keeps catching genuine runaway
    recursion while the intended N·logN walk always fits.

    **Session-wide ratchet, by design (ADVICE r10)**: the conf is set
    at BUILD time but read at EXECUTION time, and it is only ever
    raised, never restored — a per-query scope would need the runner to
    wrap execution (the builder returns a lazy DataFrame and is gone
    before any job runs), and restoring eagerly here would race other
    builders sharing the session. The weakening is bounded and
    monotone: the limit never exceeds 4·N·(log₂N+2) for the LARGEST
    customer table any builder in the session has seen, so every other
    recursive query still trips the valve at ~4× its own honest cost
    against that table — runaway recursion (quadratic or unbounded
    growth) blows past any N·logN-shaped bound almost immediately.
    """
    import math
    import os

    import pyarrow.parquet as pq

    register_views(spark, sf_dir, ("customer",))
    n = max(
        1,
        pq.ParquetDataset(os.path.join(sf_dir, "customer.parquet"))
        .read(columns=[])
        .num_rows,
    )
    needed = 4 * n * (int(math.log2(n)) + 2)
    if int(spark.conf.get("spark.sql.cteRecursionRowLimit")) < needed:
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(needed))
    return spark.sql(ORG_SUBTREE_SQL)
