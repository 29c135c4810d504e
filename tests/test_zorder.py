"""Z-order clustering (t224): the Morton-curve layout must (a) preserve
content exactly, (b) push both box predicates to the parquet scan, and
(c) measurably beat a single-column sort at row-group skipping on the
second dimension — the property that justifies the layout at 100 TB."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_google_spark.operators.scale import (
    ZORDER_BOX,
    rowgroup_skipping_audit,
    write_zordered,
    zordered_box_revenue,
)
from mapreduce_google_spark.plans import formatted_plan


def test_zorder_roundtrip_preserves_content(spark, tmp_path):
    """Clustering is pure layout: every row survives, none duplicated."""
    df = spark.range(10_000).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(997)).alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 1_000_000), F.lit(997)).alias("y"),
    )
    path = str(tmp_path / "z")
    write_zordered(df, path, ["x", "y"], bits=10, num_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.select(F.sum("id"), F.sum("x"), F.sum("y")).first() == df.select(
        F.sum("id"), F.sum("x"), F.sum("y")
    ).first()


def test_zorder_beats_single_column_sort_on_second_dim(spark, tmp_path):
    """The measured claim: filter on the SECOND clustered column. A
    layout sorted by x alone cannot prune row groups on y (every group
    spans the full y range); the z-order layout keeps each group inside
    a compact (x, y) cell, so min/max pruning works on y too.

    Data is hash-derived from id (deterministic, no RNG); 200k rows on a
    1024x1024 grid, ~64 row groups per layout via a small parquet block
    size; predicate selects ~10% of the y range."""
    df = spark.range(200_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1024)).cast("long").alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 7_777_777), F.lit(1024))
        .cast("long")
        .alias("y"),
    )
    block = 64 * 1024

    linear = str(tmp_path / "linear")
    (
        df.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .option("parquet.block.size", str(block))
        .parquet(linear)
    )
    zpath = str(tmp_path / "zorder")
    write_zordered(df, zpath, ["x", "y"], bits=10, num_files=8, block_bytes=block)

    pred = {"y": (0, 99)}
    lin = rowgroup_skipping_audit(linear, pred)
    zed = rowgroup_skipping_audit(zpath, pred)

    # both layouts hold the same data in a comparable number of groups
    assert lin["row_groups"] >= 16 and zed["row_groups"] >= 16
    # x-sorted layout: y is uniform within every group -> ~zero pruning
    assert lin["touched"] >= 0.9 * lin["row_groups"], lin
    # z-order: a 10% y-stripe touches a small fraction of the groups
    z_frac = zed["touched"] / zed["row_groups"]
    lin_frac = lin["touched"] / lin["row_groups"]
    assert z_frac <= 0.5 * lin_frac, (lin, zed)

    # and the audit agrees with ground truth: pruned groups really hold
    # no matching rows (read back under the predicate and compare)
    n_lin = (
        spark.read.parquet(linear).where(F.col("y").between(0, 99)).count()
    )
    n_zed = spark.read.parquet(zpath).where(F.col("y").between(0, 99)).count()
    assert n_lin == n_zed > 0


def test_t224_filters_reach_the_parquet_scan(spark, sf_dir):
    """Both box predicates must appear as PushedFilters on the scan of
    the z-ordered layout — pushdown is what turns the layout into
    skipped IO."""
    plan = formatted_plan(zordered_box_revenue(spark, sf_dir))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    assert "l_partkey" in joined and "l_suppkey" in joined, joined


def test_t224_box_prunes_rowgroups_at_sf01(spark):
    """On the real sf0.1 lineitem, the t224 box must leave most of the
    z-ordered layout's row groups untouched (the layout exists to skip
    IO, not just to pass a hash check). Uses the materialized layout the
    query itself builds."""
    sf_dir = "/root/testdata/sf0.1"
    zordered_box_revenue(spark, sf_dir).collect()  # ensure layout exists
    from mapreduce_google_spark.operators.scale import _zordered_lineitem_path

    path = _zordered_lineitem_path(spark, sf_dir)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    audit = rowgroup_skipping_audit(
        path,
        {
            "l_partkey": ZORDER_BOX["l_partkey"],
            "l_suppkey": ZORDER_BOX["l_suppkey"],
        },
    )
    # the box covers ~(50/2000 x 25/100) of the key space; demand the
    # layout skips at least half the groups (conservative: group count
    # at sf0.1 is modest, so boundary groups weigh a lot)
    assert audit["touched"] <= 0.5 * audit["row_groups"], audit


def test_quantile_grid_beats_linear_on_skewed_keys(spark, tmp_path):
    """The skew claim: with a heavy-tailed key, linear min/max scaling
    dumps most rows into a few low cells, so a selective range on the
    DENSE region cannot prune (every row group contains it). Quantile
    cells give each cell an equal share of rows, so the same filter
    touches roughly its selectivity's worth of groups."""
    from mapreduce_google_spark.operators.scale import (
        write_zordered_by_quantiles,
    )

    df = spark.range(200_000).select(
        # cubed uniform → dense near 0, max ~10^9: heavy value skew
        F.pow(F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double"), F.lit(3.0))
        .cast("long")
        .alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 42), F.lit(1024)).cast("long").alias("y"),
    )
    block = 64 * 1024
    linear, quant = str(tmp_path / "lin"), str(tmp_path / "qnt")
    write_zordered(df, linear, ["x", "y"], bits=10, num_files=8,
                   block_bytes=block)
    write_zordered_by_quantiles(df, quant, ["x", "y"], bits=8, num_files=8,
                                block_bytes=block)
    # ~10% of ROWS: x < (0.1*1000)^3
    box = {"x": (0, 100**3 - 1)}
    lin = rowgroup_skipping_audit(linear, box)
    qnt = rowgroup_skipping_audit(quant, box)
    # content identical regardless of layout
    n_lin = spark.read.parquet(linear).where(F.col("x") < 100**3).count()
    n_qnt = spark.read.parquet(quant).where(F.col("x") < 100**3).count()
    assert n_lin == n_qnt > 0
    # linear: the dense region floods the low cells — most groups hit;
    # quantile: ~selectivity's worth of groups
    lin_frac = lin["touched"] / lin["row_groups"]
    qnt_frac = qnt["touched"] / qnt["row_groups"]
    # factor 0.6, not 0.5: repartitionByRange's reservoir sampling makes
    # row-group boundaries jitter a little run-to-run, and the measured
    # advantage sits near 1.9-2.5x — assert the claim with margin for
    # the sampling, not a knife-edge 2.0
    assert qnt_frac <= lin_frac * 0.6, (lin, qnt)


def test_write_zordered_empty_input(spark, tmp_path):
    """Empty input (NULL bounds) must fall back to a plain write, not
    TypeError on float(None) — the CLI zorder verb hits this on
    arbitrary parquet dirs (ADVICE r7)."""
    from mapreduce_google_spark.operators.scale import write_zordered

    empty = spark.range(0).selectExpr("id AS x", "id AS y")
    path = str(tmp_path / "empty_z")
    write_zordered(empty, path, ["x", "y"])
    out = spark.read.parquet(path)
    assert out.count() == 0
    assert set(out.columns) == {"x", "y"}


def test_zorder_copy_applies_deletion_vectors(spark, tmp_path):
    """Re-clustering a table that carries a DV sidecar must copy the
    LIVE rows only — a raw read would resurrect deleted rows into the
    new layout (the CLI zorder verb reads through read_with_deletes)."""
    from mapreduce_google_spark.io import delete_where, read_with_deletes
    from mapreduce_google_spark.operators.scale import write_zordered

    src = str(tmp_path / "src")
    spark.range(0, 200).selectExpr(
        "id AS x", "(id * 7) % 100 AS y"
    ).repartition(2).write.parquet(src)
    assert delete_where(spark, src, F.col("x") % 4 == 0) == 50

    out = str(tmp_path / "clustered")
    write_zordered(read_with_deletes(spark, src), out, ["x", "y"])
    got = spark.read.parquet(out)
    assert got.count() == 150
    assert got.where(F.col("x") % 4 == 0).count() == 0
