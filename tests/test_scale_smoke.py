"""Scale-smoke tier: the heaviest oracle queries re-checked at sf0.1
(100× the default test tier). Catches scale-DEPENDENT drift the sf0.001
gate can't see — decimal accumulator widths, partition-count-sensitive
plans, AQE rewrites that only trigger past size thresholds. A handful of
queries, not the whole registry: ~40 s, so it stays in the default run.
"""

from __future__ import annotations

import duckdb
import pytest

from mapreduce_google_spark.io import TABLES
from mapreduce_google_spark.queries import REGISTRY
from tests.oracle import assert_matches_oracle

SF01 = "/root/testdata/sf0.1"

#: widest aggregations + the decimal-recipe flagships + fan-out joins
SCALE_QUERIES = [
    "t08_pricing_summary",
    "t12_revenue_rollup",
    "t62_unshipped_orders_topk",
    "t65_incremental_dedup",
    "t68_trailing_active_users",
    # the registered as-of join over the two bucketed fact stores
    "t33_asof_latest_order",
    # native codec pipeline (encode→decode→resize→checksum in one Arrow
    # pass) — the heaviest per-row Python work on the registered surface
    "t156_image_resize_checksum",
    # corpus-scale token machinery new in r04: the span explode and the
    # split-separated LM count build both grow superlinearly with doc
    # length — check them at the 100× tier
    "t139_duplicate_span_coverage",
    "t150_heldout_lm_nll",
]

#: generous wall-clock ceilings (seconds) for the Python-kernel paths at
#: sf0.1 on local[8] — r04 measured ~3 s (t64); a 10× per-batch-overhead
#: regression (the failure mode Arrow paths have when batches degenerate
#: to row-at-a-time) blows through these.
KERNEL_TIME_BOUNDS = {
    "t64_pack_documents": 45.0,
    "t156_image_resize_checksum": 90.0,
}


@pytest.fixture(scope="module")
def duck_sf01():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF01}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SCALE_QUERIES)
def test_scale_smoke_matches_oracle(name, spark, duck_sf01):
    spec = REGISTRY[name]
    assert_matches_oracle(
        spec.builder(spark, SF01), duck_sf01, spec.oracle, name=f"{name}@sf0.1"
    )


@pytest.mark.parametrize("name", sorted(KERNEL_TIME_BOUNDS))
def test_python_kernel_walltime_bound(name, spark, duck_sf01):
    """Arrow-Python kernel paths stay batch-shaped at 100× the test tier:
    a timed end-to-end run (build + full materialization) under a ceiling
    that only a per-batch-overhead regression would breach. The t64 run
    doubles as the packing kernel's sf0.1 conservation check: every
    document packed once, no token invented or lost."""
    import time

    spec = REGISTRY[name]
    start = time.monotonic()
    rows = spec.builder(spark, SF01).collect()
    elapsed = time.monotonic() - start
    assert elapsed < KERNEL_TIME_BOUNDS[name], (
        f"{name} took {elapsed:.1f}s at sf0.1 "
        f"(bound {KERNEL_TIME_BOUNDS[name]}s) — Arrow batching regressed?"
    )
    if name == "t64_pack_documents":
        n_docs, n_tokens = duck_sf01.execute(
            """SELECT count(*), sum(len(list_filter(
                   string_split_regex(lower(text), '\\s+'), t -> t <> '')))
               FROM documents"""
        ).fetchone()
        assert sum(r.n_docs for r in rows) == n_docs
        assert sum(r.n_tokens for r in rows) == n_tokens


@pytest.mark.skipif(
    not __import__("os").environ.get("SPARK_GRAFT_SF1_SMOKE"),
    reason="sf1 smoke is opt-in (SPARK_GRAFT_SF1_SMOKE=1): generates a "
    "10x corpus in /tmp and re-runs the headline queries once (~3 min)",
)
def test_sf1_headline_scaling_curve(spark, tmp_path_factory):
    """Opt-in 1000x-the-test-tier smoke: synthesize the 10x corpus
    (tools/make_scaled_sf.py), run every headline query once, and assert
    each stays within a 15x wall-time growth bound vs the recorded sf0.1
    medians — the reproducible form of BENCH_sf1.json's scaling curve.
    (Linear scaling is ~10x; the bound leaves headroom for noise while
    still catching a superlinear regression.)"""
    import json
    import os
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1_dir = "/tmp/mgs_sf1"
    if not os.path.exists(os.path.join(sf1_dir, "embeddings.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "make_scaled_sf.py")],
            check=True,
            timeout=600,
        )
    with open(os.path.join(repo, "BENCH_sf1.json")) as fh:
        bench_sf1 = json.load(fh)
    sf01_total = bench_sf1["sf01_reference_total"]
    sf01_queries = bench_sf1.get("sf01_reference_queries", {})
    headline = {n: s for n, s in sorted(REGISTRY.items()) if s.headline}
    # warm once (codegen + caches), then time once
    for spec in headline.values():
        spec.builder(spark, sf1_dir).count()
    total = 0.0
    per_query: dict[str, float] = {}
    for name, spec in headline.items():
        t0 = time.monotonic()
        spec.builder(spark, sf1_dir).count()
        per_query[name] = time.monotonic() - t0
        total += per_query[name]
    assert total < 15 * sf01_total, (
        f"sf1 headline total {total:.1f}s vs sf0.1 total {sf01_total}s — "
        "scaling regressed past linear"
    )
    # per-query growth bound: BENCH_sf1 (r06, n_reps=3) measured the
    # worst scaler at 6.16x (t33's n·log n per-customer sort) on 10x
    # data; 12x leaves ~2x noise headroom while still catching a
    # superlinear regression in any single query (the total bound alone
    # would let one query blow up inside the others' slack).
    over = {
        n: round(per_query[n] / sf01_queries[n], 1)
        for n in per_query
        if sf01_queries.get(n) and per_query[n] / sf01_queries[n] > 12
    }
    assert not over, f"per-query sf0.1→sf1 scaling past 12x: {over}"


def test_recursion_row_limit_scales_with_data(spark):
    """t236's recursive walk generates N*(log2N+1) total rows — the
    honest cost of the algorithm — which crosses Spark's default
    cteRecursionRowLimit guardrail (10^6) around N~60k customers; the
    sf1 wave run found the query dead at 10x while green at sf0.1. The
    builder must size the valve from parquet footer metadata so the
    intended walk always fits (simulated here by pinning the limit
    artificially low before building)."""
    from mapreduce_google_spark.operators.relational import org_subtree_rollup

    key = "spark.sql.cteRecursionRowLimit"
    original = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        assert org_subtree_rollup(spark, SF01).count() == 7
        assert int(spark.conf.get(key)) > 100
    finally:
        spark.conf.set(key, original)
