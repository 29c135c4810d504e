"""Foreign-session certification probe — run as a SUBPROCESS.

The driver hands the registry its OWN SparkSession
(``__spark_entry__.py``), created without any of ``session.get_spark``'s
static confs — in particular ``spark.sql.warehouse.dir``, which is a
SharedState (per-JVM) conf that CANNOT be changed after the first
session exists. That is exactly how t40 passed 700+ in-process tests
and died in the driver (VERDICT r11 item 1: its managed-table cleanup
looked in the engine's warehouse while the driver's session resolved
the default one). This script re-runs the catalog-touching registry
entries on a DEFAULT-conf session and oracle-checks them; the
in-process suite can never exercise this because its JVM already pinned
the engine warehouse. Launched by ``tests/test_foreign_session.py``
with cwd set to a temp dir, so the default warehouse lands there.

Usage: ``python foreign_session_probe.py SF_DIR NAME [NAME ...]``
"""

from __future__ import annotations

import json
import os
import sys


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    import duckdb
    from pyspark.sql import SparkSession

    from mapreduce_google_spark.io import TABLES, shared_store_root
    from mapreduce_google_spark.queries import REGISTRY
    from tests.oracle import assert_matches_oracle

    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    # a DELIBERATELY vanilla session: no warehouse pin, no bucketing/
    # pushdown/timezone confs — whatever the loaders and operators need
    # beyond Spark defaults must be applied at runtime by the engine
    # itself, or this probe goes red before the driver does
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("mgs-foreign-session-probe")
        .getOrCreate()
    )
    wh = spark.conf.get("spark.sql.warehouse.dir")
    assert shared_store_root() not in wh, (
        f"probe session inherited the engine warehouse conf ({wh}) — "
        "it must resolve Spark's default to reproduce the driver"
    )

    duck = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    for name in names:
        spec = REGISTRY[name]
        df = spec.builder(spark, sf_dir)
        if name == "t40_bucketed_segment_revenue":
            # the PLAN property must hold on the driver-shaped session
            # too (bucketing pruning/reading are defaults, not get_spark
            # magic): co-located sort-merge join, exchanges only for the
            # final agg + order-by — tests/test_plans.py's gate, foreign.
            # Checked BEFORE execution, like the engine gate: collecting
            # first would show the AQE-finalized plan, whose node list
            # renders differently
            from mapreduce_google_spark.plans.explain import formatted_plan

            plan = formatted_plan(df)
            assert "SortMergeJoin" in plan, plan
            assert plan.count("Exchange (") <= 2, plan
        if spec.oracle is None:
            assert df.count() >= 0, name
        else:
            assert_matches_oracle(df, duck, spec.oracle, name=name)

    print(json.dumps({"ok": True, "warehouse": wh, "checked": names}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
