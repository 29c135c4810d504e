"""Property-based oracle fuzzing (hypothesis): random predicates and
aggregations over ``lineitem``, executed by BOTH Spark SQL and DuckDB on
the same parquet, must agree.

The reference's suite is purely golden-file (SURVEY.md §5: "no
property-based/randomized testing"); this goes beyond it to catch
semantics drift the fixed T-inventory can't — type coercion, NULL
handling, float-agg ordering, date-literal parsing — across the two
engines the driver's correctness gate compares.

Determinism: ``derandomize=True`` makes hypothesis replay the same
example corpus every run, so CI is stable while still covering ~40
generated queries.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# --- predicate grammar over lineitem ---------------------------------------

_NUM_COLS = {
    "l_quantity": st.integers(1, 50),
    "l_extendedprice": st.integers(1000, 100_000),
    "l_discount": st.sampled_from([0.0, 0.02, 0.05, 0.08, 0.1]),
    "l_tax": st.sampled_from([0.0, 0.03, 0.05, 0.08]),
    "l_linenumber": st.integers(1, 7),
}
_NUM_OPS = st.sampled_from(["<", "<=", ">", ">=", "=", "<>"])
_STR_COLS = {
    "l_returnflag": st.sampled_from(["A", "N", "R"]),
    "l_linestatus": st.sampled_from(["O", "F"]),
}
_DATES = st.sampled_from(
    ["1993-01-01", "1994-06-30", "1995-03-15", "1996-12-01", "1998-09-02"]
)


@st.composite
def _leaf(draw):
    kind = draw(st.sampled_from(["num", "str", "date"]))
    if kind == "num":
        col = draw(st.sampled_from(sorted(_NUM_COLS)))
        return f"{col} {draw(_NUM_OPS)} {draw(_NUM_COLS[col])}"
    if kind == "str":
        col = draw(st.sampled_from(sorted(_STR_COLS)))
        op = draw(st.sampled_from(["=", "<>"]))
        return f"{col} {op} '{draw(_STR_COLS[col])}'"
    return f"l_shipdate {draw(_NUM_OPS)} TIMESTAMP '{draw(_DATES)} 00:00:00'"


@st.composite
def _predicate(draw, depth=2):
    if depth == 0 or draw(st.booleans()):
        return draw(_leaf())
    conj = draw(st.sampled_from(["AND", "OR"]))
    return (
        f"({draw(_predicate(depth=depth - 1))}) {conj} "
        f"({draw(_predicate(depth=depth - 1))})"
    )


@pytest.fixture(scope="module", autouse=True)
def _lineitem_view(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "fuzz_lineitem"
    )
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "fuzz_orders"
    )


_FUZZ_SETTINGS = settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(pred=_predicate())
@_FUZZ_SETTINGS
def test_predicate_fuzz_spark_matches_duckdb(spark, duck, pred):
    sel = (
        "SELECT count(*) AS c, sum(l_quantity) AS s, "
        f"sum(l_linenumber) AS n FROM {{t}} WHERE {pred}"
    )
    got = spark.sql(sel.format(t="fuzz_lineitem")).first()
    want = duck.execute(sel.format(t="lineitem")).fetchone()
    assert got["c"] == want[0], pred
    assert got["s"] == pytest.approx(want[1], rel=1e-9, abs=1e-9), pred
    assert (got["n"] or 0) == (want[2] or 0), pred


@given(
    group_cols=st.sets(
        st.sampled_from(["l_returnflag", "l_linestatus", "l_linenumber"]),
        min_size=1,
        max_size=2,
    ),
    agg_fn=st.sampled_from(["sum", "min", "max", "avg", "count"]),
    agg_col=st.sampled_from(["l_quantity", "l_extendedprice", "l_discount"]),
    pred=_leaf(),
)
@_FUZZ_SETTINGS
def test_groupby_fuzz_spark_matches_duckdb(
    spark, duck, group_cols, agg_fn, agg_col, pred
):
    keys = ", ".join(sorted(group_cols))
    q = (
        f"SELECT {keys}, {agg_fn}({agg_col}) AS a, count(*) AS c "
        f"FROM {{t}} WHERE {pred} GROUP BY {keys} ORDER BY {keys}"
    )
    got = [tuple(r) for r in spark.sql(q.format(t="fuzz_lineitem")).collect()]
    want = duck.execute(q.format(t="lineitem")).fetchall()
    assert len(got) == len(want), q
    for g, w in zip(got, want):
        assert g[:-2] == w[:-2], q
        assert g[-2] == pytest.approx(w[-2], rel=1e-9, abs=1e-9), q
        assert g[-1] == w[-1], q


_ORDER_PREDS = st.sampled_from(
    [
        "o_totalprice > 50000",
        "o_orderstatus = 'F'",
        "o_orderpriority = '1-URGENT'",
        "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'",
        "o_custkey % 7 = 0",
    ]
)


@given(
    jt=st.sampled_from(["inner", "left", "semi", "anti"]),
    lpred=_leaf(),
    opred=_ORDER_PREDS,
)
@_FUZZ_SETTINGS
def test_join_fuzz_spark_matches_duckdb(spark, duck, jt, lpred, opred):
    """Random equi-joins (incl. EXISTS/NOT EXISTS semi/anti forms) must
    produce identical counts and sums in both engines — covers join-type
    semantics, NULL propagation through outer joins, and correlated
    subquery decorrelation, none of which the fixed inventory fuzzes."""
    if jt in ("inner", "left"):
        kw = "JOIN" if jt == "inner" else "LEFT JOIN"
        q = (
            "SELECT count(*) AS c, count(l_orderkey) AS k, "
            "sum(o_totalprice) AS s "
            f"FROM {{o}} {kw} (SELECT * FROM {{t}} WHERE {lpred}) li "
            f"ON o_orderkey = l_orderkey WHERE {opred}"
        )
    else:
        ex = "EXISTS" if jt == "semi" else "NOT EXISTS"
        q = (
            "SELECT count(*) AS c, count(*) AS k, sum(o_totalprice) AS s "
            f"FROM {{o}} WHERE {opred} AND {ex} "
            f"(SELECT 1 FROM {{t}} WHERE l_orderkey = o_orderkey AND {lpred})"
        )
    got = spark.sql(q.format(o="fuzz_orders", t="fuzz_lineitem")).first()
    want = duck.execute(q.format(o="orders", t="lineitem")).fetchone()
    assert got["c"] == want[0], q
    assert got["k"] == want[1], q
    if want[2] is None:
        assert got["s"] is None, q
    else:
        assert got["s"] == pytest.approx(want[2], rel=1e-9), q


@given(
    part_col=st.sampled_from(["l_returnflag", "l_linestatus", "l_linenumber"]),
    fn=st.sampled_from(
        ["row_number()", "rank()", "dense_rank()", "count(*)", "sum(l_quantity)"]
    ),
    pred=_leaf(),
)
@_FUZZ_SETTINGS
def test_window_fuzz_spark_matches_duckdb(spark, duck, part_col, fn, pred):
    """Random window functions over a TOTAL order (orderkey, linenumber
    is the table's unique key) must agree across engines — covers frame
    defaults, rank semantics on ties (none, by construction), and
    running aggregates, which neither the fixed inventory nor the other
    fuzzers touch. The checksum collapses the full window output so row
    order can't mask a mismatch."""
    q = (
        f"SELECT sum(w * l_orderkey) AS chk, count(*) AS c FROM ("
        f"  SELECT l_orderkey, CAST({fn} OVER ("
        f"    PARTITION BY {part_col} "
        f"    ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS w "
        f"  FROM {{t}} WHERE {pred})"
    )
    got = spark.sql(q.format(t="fuzz_lineitem")).first()
    want = duck.execute(q.format(t="lineitem")).fetchone()
    assert got["c"] == want[1], q
    assert (got["chk"] or 0) == (want[0] or 0), q


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    offsets=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_session_window_boundary_fuzz(spark, duck, offsets):
    """Random event sets on a 15-minute grid — so consecutive gaps hit
    EXACTLY the 30-minute session gap — must sessionize identically
    between Spark's native session_window and the first-principles
    islands rule (new session only when diff > gap, end = last + gap:
    an event landing exactly at the previous end EXTENDS the session —
    Spark's end bound is inclusive, verified by this very fuzzer).
    This pins the boundary semantics of the native operator the
    streaming session jobs use, which the µs-random events table can
    never exercise."""
    import pandas as pd

    from pyspark.sql import functions as F

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (int(u), base + pd.Timedelta(minutes=15 * k))
        for u, k in sorted(set(offsets))
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    sdf = spark.createDataFrame(pdf)
    got = sorted(
        (
            r["user_id"],
            str(r["w"]["start"]),
            str(r["w"]["end"]),
            r["n"],
        )
        for r in sdf.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    duck.register("fuzz_sessions", pdf)
    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
            WITH marked AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS is_start
                FROM fuzz_sessions
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
                SELECT user_id, ts,
                       sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            )
            SELECT user_id,
                   CAST(min(ts) AS VARCHAR) AS session_start,
                   CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
                   CAST(count(*) AS BIGINT) AS n
            FROM sess GROUP BY user_id, sid
            """
        ).fetchall()
    )
    duck.unregister("fuzz_sessions")
    assert got == want


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 20)),
        min_size=1,
        max_size=10,
    )
)
def test_sweepline_boundary_fuzz(spark, duck, events):
    """Random events on a unit grid with hold=3 units, so interval
    closes coincide EXACTLY with other opens — must agree with DuckDB's
    sweep computed by the same (time, delta) ordering. Pins the
    close-before-open tie rule (half-open intervals) of t144, which
    µs-random timestamps never exercise; duplicate timestamps per user
    are allowed and exercise same-sign tie groups."""
    import pandas as pd

    from mapreduce_google_spark.operators.events import sweepline_peaks

    pdf = pd.DataFrame(
        [(int(u), int(k)) for u, k in events], columns=["user_id", "t"]
    )
    sdf = spark.createDataFrame(pdf)
    got = sorted(
        (r["user_id"], r["n_events"], r["peak_concurrency"])
        for r in sweepline_peaks(sdf, hold_us=3).collect()
    )
    duck.register("fuzz_sweep", pdf)
    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
            WITH deltas AS (
                SELECT user_id, t, 1 AS delta FROM fuzz_sweep
                UNION ALL
                SELECT user_id, t + 3, -1 FROM fuzz_sweep
            ),
            swept AS (
                SELECT user_id,
                       sum(delta) OVER (PARTITION BY user_id
                                        ORDER BY t, delta
                                        ROWS UNBOUNDED PRECEDING) AS open_now
                FROM deltas
            )
            SELECT user_id,
                   CAST(count(*) / 2 AS BIGINT) AS n_events,
                   CAST(max(open_now) AS BIGINT) AS peak
            FROM swept GROUP BY user_id
            """
        ).fetchall()
    )
    duck.unregister("fuzz_sweep")
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    ev=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 10)),
        min_size=1,
        max_size=6,
        unique=True,
    ),
    od=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 10)),
        min_size=1,
        max_size=6,
    ),
)
def test_asof_boundary_fuzz(spark, duck, tmp_path_factory, ev, od):
    """Random event/order sets on a whole-day grid — so order dates land
    EXACTLY on event timestamps, and duplicate order dates per customer
    exist — must as-of join identically between the join-free
    forward-fill operator (t33) and the oracle's argmax formulation.
    Pins the inclusive <= boundary and the max-orderkey tie rule, which
    µs-random data never exercises."""
    import pandas as pd

    from mapreduce_google_spark.operators.relational import (
        asof_latest_order_union_merge,
    )

    base = pd.Timestamp("2024-01-01")
    d = tmp_path_factory.mktemp("asof")
    events = pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": [base + pd.Timedelta(days=k) for _, k in ev],
            "user_id": [u for u, _ in ev],
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": range(len(od)),
            "o_custkey": [u for u, _ in od],
            "o_orderstatus": "O",
            "o_totalprice": 1.0,
            "o_orderdate": [base + pd.Timedelta(days=k) for _, k in od],
            "o_orderpriority": "1-URGENT",
        }
    )
    # write µs timestamps (pandas defaults to ns, which the session's
    # nanosAsLong conf would surface as BIGINT for non-events tables)
    events["ts"] = events["ts"].astype("datetime64[us]")
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    events.to_parquet(d / "events.parquet")
    orders.to_parquet(d / "orders.parquet")
    # the store-free union-merge reference: the registered body builds
    # two bucketed stores per corpus, which per hypothesis example would
    # be all build cost; its boundary/tie semantics are pinned on a
    # handcrafted corpus in test_asof_boundary_parity and
    # equality-pinned against this reference on the real sf dirs
    got = sorted(
        tuple(r)
        for r in asof_latest_order_union_merge(spark, str(d)).collect()
    )
    duck.register("fz_ev", events)
    duck.register("fz_od", orders)
    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
            SELECT event_id, user_id, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
            FROM (
                SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                       row_number() OVER (
                           PARTITION BY e.event_id
                           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                       ) AS rn
                FROM fz_ev e
                JOIN fz_od o
                  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
            )
            WHERE rn = 1
            """
        ).fetchall()
    )
    duck.unregister("fz_ev")
    duck.unregister("fz_od")
    assert got == want


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    ks=st.lists(st.integers(0, 12), min_size=1, max_size=10, unique=True)
)
def test_sliding_window_alignment_fuzz(spark, duck, ks):
    """Events on a 30-minute grid — every timestamp lands EXACTLY on a
    window start/end of the 1h/30m sliding windows — must bucket
    identically between Spark's F.window and the arithmetic assignment
    rule (each event belongs to the two windows starting at
    floor-to-30min and that minus 30min; [start, end) half-open, so a
    boundary event belongs to the window STARTING there, not ending
    there). Pins the alignment t15b's oracle states for µs-random data."""
    import pandas as pd

    from pyspark.sql import functions as F

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {"ts": [base + pd.Timedelta(minutes=30 * k) for k in sorted(ks)]}
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sdf = spark.createDataFrame(pdf)
    got = sorted(
        (str(r["w"]["start"]), r["n"])
        for r in sdf.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    duck.register("fuzz_win", pdf)
    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
            SELECT CAST(win_start AS VARCHAR) AS ws,
                   CAST(count(*) AS BIGINT) AS n
            FROM (
                SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                       - CAST(i AS INTEGER) * INTERVAL 30 MINUTE AS win_start
                FROM fuzz_win, UNNEST(range(2)) AS t(i)
            )
            GROUP BY win_start
            """
        ).fetchall()
    )
    duck.unregister("fuzz_win")
    assert got == want


@pytest.fixture(scope="module")
def _docs_view(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "fuzz_docs"
    )


@given(
    min_len=st.integers(0, 6),
    prefix=st.sampled_from(["a", "s", "th", "pro", "qu", "zz"]),
    use_prefix=st.booleans(),
)
@_FUZZ_SETTINGS
def test_token_hof_fuzz_spark_matches_duckdb(
    spark, duck, _docs_view, min_len, prefix, use_prefix
):
    """Random tokenize→filter→aggregate pipelines over documents must
    agree between Spark's HOFs (split/filter/aggregate) and DuckDB's
    list functions — these primitives underlie most of the LLM-text
    registry (word count, TF-IDF, quality, chunking), so their parity
    deserves fuzzing, not just the fixed inventory's specific uses."""
    from pyspark.sql import functions as F

    from mapreduce_google_spark.functions.text import tokenize

    cond = f"t <> '' AND length(t) > {min_len}"
    if use_prefix:
        cond += f" AND t LIKE '{prefix}%'"

    def keep(t):
        c = (t != "") & (F.length(t) > min_len)
        if use_prefix:
            c = c & t.startswith(prefix)
        return c

    kept = F.filter(tokenize("text"), keep)
    per_doc = spark.table("fuzz_docs").select(
        F.size(kept).alias("n"),
        F.aggregate(
            kept, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("chars"),
        kept.alias("toks"),
    )
    totals = per_doc.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum("chars").cast("long").alias("total_chars"),
    ).first()
    n_distinct = (
        per_doc.select(F.explode_outer("toks").alias("t"))
        .agg(F.countDistinct("t").alias("d"))
        .first()["d"]
    )
    got = {
        "total_tokens": totals["total_tokens"],
        "total_chars": totals["total_chars"],
        "n_distinct": n_distinct,
    }
    want = duck.execute(
        f"""
        WITH kept AS (
            SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> {cond}) AS toks
            FROM documents
        )
        SELECT CAST(sum(len(toks)) AS BIGINT),
               CAST(sum(list_aggregate(list_transform(toks, t -> length(t)),
                                       'sum')) AS BIGINT),
               (SELECT count(DISTINCT t) FROM (SELECT unnest(toks) AS t FROM kept))
        FROM kept
        """
    ).fetchone()
    assert (got["total_tokens"] or 0) == (want[0] or 0)
    assert (got["total_chars"] or 0) == (want[1] or 0)
    assert got["n_distinct"] == want[2]


def test_asof_boundary_parity(
    spark, tmp_path, store_root_in_tmp_path
):
    """Both as-of engine paths (the registered bucketed-stores body and
    the store-free union-merge reference) must agree with a brute-force
    reference on a corpus built entirely
    of boundary cases: an order EXACTLY at an event timestamp
    (<= semantics keeps it), two orders on the same date (max orderkey
    wins), events before any order (dropped), customers with orders but
    no events, customers with events but no orders, and two events
    sharing a timestamp."""
    from datetime import datetime

    from mapreduce_google_spark.operators.relational import (
        asof_latest_order,
        asof_latest_order_union_merge,
    )

    T = datetime
    events = [
        # (event_id, ts, user_id) — user 1: order exactly at ts
        (1, T(1995, 6, 1, 12, 0, 0), 1),
        # user 1: event BEFORE every order → dropped
        (2, T(1995, 1, 1, 0, 0, 0), 1),
        # user 2: two orders share the qualifying date → key 23 wins
        (3, T(1995, 7, 1, 0, 0, 0), 2),
        # user 3: events but NO orders → dropped
        (4, T(1995, 6, 1, 0, 0, 0), 3),
        # user 2: duplicate timestamps — both rows keep the same order
        (5, T(1995, 8, 1, 0, 0, 0), 2),
        (6, T(1995, 8, 1, 0, 0, 0), 2),
    ]
    orders = [
        # (o_orderkey, o_custkey, o_orderdate)
        (11, 1, T(1995, 6, 1, 12, 0, 0)),  # exact match for event 1
        (12, 1, T(1995, 5, 1, 0, 0, 0)),
        (22, 2, T(1995, 6, 30, 0, 0, 0)),
        (23, 2, T(1995, 6, 30, 0, 0, 0)),  # same date, higher key
        (31, 4, T(1995, 1, 1, 0, 0, 0)),  # customer with no events
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(e, t, u, "view", 1.0, "{}") for e, t, u in events],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    spark.createDataFrame(
        [(k, c, "O", 1.0, d, "1-URGENT") for k, c, d in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")

    # brute-force reference: max (date, orderkey) among orders <= ts
    want = {}
    for e, t, u in events:
        best = max(
            ((d, k) for k, c, d in orders if c == u and d <= t),
            default=None,
        )
        if best:
            want[e] = (u, best[1], best[0].strftime("%Y-%m-%d %H:%M:%S"))

    for impl in (asof_latest_order, asof_latest_order_union_merge):
        got = {
            r[0]: (r[1], r[2], r[3]) for r in impl(spark, sf).collect()
        }
        assert got == want, impl.__name__
    assert want == {
        1: (1, 11, "1995-06-01 12:00:00"),
        3: (2, 23, "1995-06-30 00:00:00"),
        5: (2, 23, "1995-06-30 00:00:00"),
        6: (2, 23, "1995-06-30 00:00:00"),
    }
