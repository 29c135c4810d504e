"""partition_upsert (t225): MERGE-style upsert on plain parquet must
replace matched keys, append new ones, and rewrite ONLY the partitions
the delta touches."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from mapreduce_google_spark.io import partition_upsert
from mapreduce_google_spark.operators.scale import (
    UPSERT_DAY,
    UPSERT_INSERT_OFFSET,
    event_corrections_upsert,
)


def _mtimes(path: str, pattern: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, pattern, "*.parquet"))
    }


def test_partition_upsert_semantics_and_scoping(spark, tmp_path):
    """3 partitions; the delta corrects one key and inserts one key into
    partition 'b' only. Partitions 'a'/'c' must keep their files
    byte-identical (mtime-asserted); 'b' must hold the merged rows with
    unique keys."""
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k long, p string, v double",
    )
    path = str(tmp_path / "tbl")
    base.repartition("p").write.partitionBy("p").parquet(path)

    before_a = _mtimes(path, "p=a")
    before_c = _mtimes(path, "p=c")
    assert before_a and before_c

    delta = spark.createDataFrame(
        [(2, "b", 999.0), (9, "b", 9.0)], "k long, p string, v double"
    )
    touched = partition_upsert(spark, path, delta, "p", ["k"])
    assert touched == ["b"]

    rows = {
        (r.k, r.p): r.v for r in spark.read.parquet(path).collect()
    }
    assert rows == {
        (1, "a"): 10.0,
        (2, "b"): 999.0,  # corrected
        (3, "b"): 30.0,  # carried over
        (9, "b"): 9.0,  # inserted
        (4, "c"): 40.0,
    }
    # untouched partitions: same files, same mtimes — never rewritten
    assert _mtimes(path, "p=a") == before_a
    assert _mtimes(path, "p=c") == before_c


def test_t225_is_idempotent_and_keeps_other_days_untouched(spark, sf_dir):
    """Re-running the registered upsert must not change results (the
    delta is derived from the immutable source) and must never rewrite a
    day it doesn't touch."""
    from mapreduce_google_spark.operators import scale

    first = event_corrections_upsert(spark, sf_dir).collect()

    path = scale._events_daily_upserted_path(spark, sf_dir)
    other_days = {
        d: _mtimes(path, os.path.basename(d))
        for d in glob.glob(os.path.join(path, "day=*"))
        if not d.endswith(f"day={UPSERT_DAY}")
    }
    assert other_days

    # a real re-application of the same delta to the committed table
    delta = scale._corrections_delta(scale._events_source(spark, sf_dir))
    partition_upsert(spark, path, delta, "day", ["event_id"])
    second = event_corrections_upsert(spark, sf_dir).collect()
    assert second == first
    for d, before in other_days.items():
        assert _mtimes(path, os.path.basename(d)) == before, d

    # upserted day: corrected keys unique, inserts present exactly once
    day = (
        spark.read.parquet(path)
        .where(F.col("day") == F.lit(UPSERT_DAY).cast("date"))
    )
    dup = day.groupBy("event_id").count().where("count > 1").count()
    assert dup == 0
    n_inserts = day.where(F.col("event_id") >= UPSERT_INSERT_OFFSET).count()
    assert n_inserts > 0


def test_t225_called_by_two_threads_at_once_matches_one_call(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two t225 calls at once on a fresh store root (the shape of
    ``cli batch --parallel 2`` running t225 and t226): the upsert runs
    inside the table's one write_once build, so neither call overwrites
    a partition the other is reading. Both succeed, with the rows of a
    single call."""
    import tempfile
    import threading

    one = sorted(event_corrections_upsert(spark, sf_dir).collect())
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # fresh root
    got, errors = [], []

    def call() -> None:
        try:
            got.append(sorted(event_corrections_upsert(spark, sf_dir).collect()))
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == [one, one]


def test_partition_upsert_empty_delta_is_a_safe_noop(spark, tmp_path):
    """A corrections feed with zero rows (the common nightly case) must
    not rewrite, truncate, or touch ANY partition."""
    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, p string, v double"
    ).write.partitionBy("p").parquet(base)
    before = _mtimes(base, "p=*")
    assert before
    empty = spark.createDataFrame([], "k int, p string, v double")
    touched = partition_upsert(spark, base, empty, "p", ["k"])
    assert touched == []
    assert _mtimes(base, "p=*") == before
    got = sorted(
        (r["k"], r["p"], r["v"]) for r in spark.read.parquet(base).collect()
    )
    assert got == [(1, "a", 1.0), (2, "b", 2.0)]


def test_moved_key_guard(spark, tmp_path):
    """check_moved_keys=True must refuse a delta whose key already lives
    under a DIFFERENT partition value (the silent-duplicate footgun);
    without the flag the old row survives — the documented caveat."""
    import pytest

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, p string, v double"
    )
    path = str(tmp_path / "tbl")
    base.repartition("p").write.partitionBy("p").parquet(path)

    # key 1 exists under p=a; the delta claims it under p=b
    delta = spark.createDataFrame([(1, "b", 99.0)], "k long, p string, v double")
    with pytest.raises(ValueError, match="other.*partition|delete the old"):
        partition_upsert(spark, path, delta, "p", ["k"], check_moved_keys=True)
    # guard fired BEFORE any write: table unchanged
    rows = {(r.k, r.p): r.v for r in spark.read.parquet(path).collect()}
    assert rows == {(1, "a"): 10.0, (2, "b"): 20.0}

    # a clean delta (no cross-partition move) passes with the guard on
    clean = spark.createDataFrame([(2, "b", 99.0)], "k long, p string, v double")
    assert partition_upsert(spark, path, clean, "p", ["k"],
                            check_moved_keys=True) == ["b"]
    rows = {(r.k, r.p): r.v for r in spark.read.parquet(path).collect()}
    assert rows == {(1, "a"): 10.0, (2, "b"): 99.0}


def test_partition_upsert_null_partition_carries_base_rows(spark, tmp_path):
    """Null-partition MERGE (io.py review r12): a delta touching the
    NULL partition must carry over the base's unmatched null-partition
    rows — plain isin() with a None element evaluates to SQL NULL for
    them, silently dropping every pre-existing null-partition row from
    the dynamic overwrite. Untouched partitions stay byte-identical,
    and the moved-key guard's complement must also SEE null-partition
    rows (its isin complement was equally null-blind)."""
    import pytest

    from mapreduce_google_spark.io import partition_upsert

    base = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "b", 30.0)],
        "k long, p string, v double",
    )
    path = str(tmp_path / "tbl")
    base.repartition(1).write.partitionBy("p").parquet(path)
    before_b = _mtimes(path, "p=b")

    delta = spark.createDataFrame([(2, None, 999.0)], "k long, p string, v double")
    touched = partition_upsert(spark, path, delta, "p", ["k"])
    assert touched == [None]

    rows = {(r.k, r.p): r.v for r in spark.read.parquet(path).collect()}
    assert rows == {
        (1, None): 10.0,  # carried over — the row plain isin() dropped
        (2, None): 999.0,  # corrected
        (3, "b"): 30.0,  # untouched partition
    }
    assert _mtimes(path, "p=b") == before_b

    # moved-key guard sees null-partition rows in the complement: key 1
    # lives under p=NULL, a delta placing it under p='b' must raise
    moving = spark.createDataFrame([(1, "b", 1.0)], "k long, p string, v double")
    with pytest.raises(ValueError, match="other\\s+partition"):
        partition_upsert(spark, path, moving, "p", ["k"], check_moved_keys=True)
