"""Incremental view maintenance (t238): the maintained aggregate view
must equal a full recomputation over the merged table, and its plan must
never read the merged/upserted table — maintenance is view ⊕ Δagg, one
narrow scan of the delta's day slice."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_google_spark.operators.scale import (
    _corrections_delta,
    _events_source,
    maintained_daily_revenue,
)
from mapreduce_google_spark.plans import formatted_plan


def test_maintained_view_equals_recomputation(spark, sf_dir):
    """view_v1 ⊕ Δagg == groupBy over the relationally-merged table —
    the abelian-group maintenance law, checked in-engine (the driver
    checks the same thing against DuckDB)."""
    maintained = {
        (str(r["day"]), r["n_events"], r["sum_value"])
        for r in maintained_daily_revenue(spark, sf_dir).collect()
    }
    ev = _events_source(spark, sf_dir)
    delta = _corrections_delta(ev)
    merged = (
        ev.join(delta.select("event_id"), ["event_id"], "left_anti")
        .unionByName(delta)
    )
    recomputed = {
        (str(r["day"]), r["n_events"], r["sum_value"])
        for r in merged.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .collect()
    }
    assert maintained == recomputed


def test_maintenance_never_reads_the_merged_table(spark, sf_dir):
    """The plan must scan the SOURCE events parquet only — no
    mgs_events_daily_* directory (the materialized upserted table) and no
    join against a second corpus-sized relation; the delta contribution
    comes from one filtered day slice."""
    plan = formatted_plan(maintained_daily_revenue(spark, sf_dir))
    assert "mgs_events_daily" not in plan
    # every scan in the plan is the source events table (formatted mode
    # puts the path on the Location detail line, not the Scan node line)
    locs = [ln for ln in plan.splitlines() if "Location" in ln]
    assert locs and all("events.parquet" in ln for ln in locs), locs
    # the day slice must reach the scan as a pushed filter
    assert "PushedFilters" in plan


# --------------------------------------------------------------------- t239


def test_chain_maintained_view_equals_recomputation(spark, sf_dir):
    """view_v1 ⊕ agg(snapshot_diff CDC) == groupBy over the v2 snapshot —
    the same abelian-group law as t238, but the delta comes from the
    REAL change feed between two published snapshots rather than the
    arithmetic corrections rule."""
    from mapreduce_google_spark.io import read_snapshot
    from mapreduce_google_spark.operators.scale import (
        _events_snapshot_root,
        chain_maintained_daily_revenue,
    )

    maintained = {
        (str(r["day"]), r["n_events"], r["sum_value"])
        for r in chain_maintained_daily_revenue(spark, sf_dir).collect()
    }
    v2 = read_snapshot(spark, _events_snapshot_root(spark, sf_dir), version=2)
    recomputed = {
        (str(r["day"]), r["n_events"], r["sum_value"])
        for r in v2.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .collect()
    }
    assert maintained == recomputed


def test_chain_maintenance_reads_only_view_and_cdc(spark, sf_dir):
    """The no-rescan gate the t239 docstring claims: every scan in the
    plan is under the mgs_ivm_chain_* root (the O(days) view_v1 table or
    the delta-sized cdc feed) — never snapshot v1, never v2, never the
    source events parquet."""
    from mapreduce_google_spark.operators.scale import (
        chain_maintained_daily_revenue,
    )

    plan = formatted_plan(chain_maintained_daily_revenue(spark, sf_dir))
    locs = [ln for ln in plan.splitlines() if "Location" in ln]
    assert locs and all("mgs_ivm_chain_" in ln for ln in locs), locs
    assert any("view_v1" in ln for ln in locs), locs
    assert any("/cdc" in ln for ln in locs), locs
    assert "mgs_events_snapshots" not in plan  # neither snapshot version
    assert "events.parquet" not in plan        # nor the raw source


def test_chain_algebra_moves_groups_and_retracts(spark):
    """Synthetic CDC against maintain_view_with_cdc pins the two cases
    the real corpus never exercises: an update that MOVES a row across
    group keys (retract on old_day + assert on new_day), a group whose
    count reaches zero (dropped from the view), and an insert into a day
    the view has never seen (full-outer null side)."""
    import datetime as dt
    from decimal import Decimal

    from mapreduce_google_spark.operators.scale import maintain_view_with_cdc

    A, B, C, D = (dt.date(2024, 1, d) for d in (1, 2, 3, 4))
    view = spark.createDataFrame(
        [(A, 2, Decimal("10.00")), (B, 1, Decimal("5.00")),
         (C, 1, Decimal("7.00"))],
        "day date, n_events long, sum_value decimal(12,2)",
    )
    cdc = spark.createDataFrame(
        [
            # update moving a row A -> B, value 4.00 -> 6.00
            (A, 4.0, B, 6.0),
            # delete B's original row
            (B, 5.0, None, None),
            # delete C's ONLY row -> group must be retracted
            (C, 7.0, None, None),
            # insert into never-seen day D
            (None, None, D, 3.5),
        ],
        "old_day date, old_value double, new_day date, new_value double",
    )
    got = {
        (str(r["day"]), r["n_events"], r["sum_value"])
        for r in maintain_view_with_cdc(view, cdc).collect()
    }
    assert got == {
        ("2024-01-01", 1, 6.0),   # 10 - 4 (moved out)
        ("2024-01-02", 1, 6.0),   # 5 - 5 (deleted) + 6 (moved in)
        ("2024-01-04", 1, 3.5),   # brand-new group
    }
