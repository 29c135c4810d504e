"""Secondary point-lookup index (t237): the (key, file) posting table
must (a) answer needle queries reading only the files that hold the
keys, (b) refresh incrementally (new files only, vanished files'
postings dropped), and (c) never be load-bearing for exactness — the
looked-up files are re-filtered by the pushed-down predicate."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_google_spark.operators.scale import (
    point_lookup,
    pruned_files_from_manifest,
    refresh_point_index,
)


def _write_hashed(spark, path: str, n: int, files: int) -> None:
    (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .repartition(files, "k")
        .write.mode("overwrite")
        .parquet(path)
    )


def test_lookup_reads_only_posted_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 10_000, 16)
    keys = [5, 777, 4242]
    got = {(r["k"], r["v"]) for r in point_lookup(spark, path, "k", keys).collect()}
    assert got == {(k, k * 3) for k in keys}
    # the plan must scan <= len(keys) files, not all 16 — read the index
    # the same way point_lookup does and count distinct posted files
    idx = spark.read.parquet(os.path.join(path, "_pointidx_k"))
    posted = idx.where(F.col("key").isin(keys)).select("file").distinct().count()
    assert posted <= len(keys) < 16


def test_multi_file_index_prunes_index_files_and_data_files(spark, tmp_path):
    """The 100 TB layout (VERDICT r8 item 2): the index build is
    range-partitioned across N parallel tasks — never a coalesce(1)
    funnel — so index files carry DISJOINT key envelopes and a probe
    admits only the index file(s) its range intersects, before row-group
    pruning inside them. Exactness and the posted-data-file reduction
    must survive the multi-file layout."""
    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 20_000, 16)
    idx_dir = refresh_point_index(spark, path, "k", index_partitions=4)

    # build layout: N sorted index files, not one
    idx_files = sorted(glob.glob(os.path.join(idx_dir, "*.parquet")))
    assert len(idx_files) == 4
    # disjoint envelopes by range-partitioned construction — read the
    # manifest the lookup uses and check no two files' ranges overlap
    manifest = {
        r["file"]: (r["min_key"], r["max_key"])
        for r in spark.read.parquet(os.path.join(idx_dir, "_manifest")).collect()
    }
    assert set(manifest) == set(idx_files)
    spans = sorted(manifest.values())
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo, f"overlapping index-file envelopes: {spans}"

    # a tight probe range admits ONLY the index file(s) that cover it
    keys = [17, 23, 91]  # all in the lowest range partition
    admitted, total = pruned_files_from_manifest(
        spark, idx_dir, {"key": (min(keys), max(keys))}
    )
    assert total == 4
    assert len(admitted) == 1, admitted

    # and the lookup itself stays exact + reads few data files
    got = {(r["k"], r["v"]) for r in point_lookup(spark, path, "k", keys).collect()}
    assert got == {(k, k * 3) for k in keys}
    idx = spark.read.parquet(idx_dir)
    posted = idx.where(F.col("key").isin(keys)).select("file").distinct().count()
    assert posted <= len(keys) < 16


def test_string_keys_roundtrip(spark, tmp_path):
    """point_lookup is type-agnostic (the CLI's --lookup parser falls
    back to raw strings for non-integer tokens — ADVICE r8): a
    string-typed key column must index, prune, and look up exactly."""
    path = str(tmp_path / "stbl")
    (
        spark.range(2_000)
        .select(
            F.format_string("doc-%05d", F.col("id")).alias("doc_id"),
            (F.col("id") * 7).alias("v"),
        )
        .repartition(8, "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    keys = ["doc-00042", "doc-01776"]
    got = {
        (r["doc_id"], r["v"])
        for r in point_lookup(spark, path, "doc_id", keys).collect()
    }
    assert got == {("doc-00042", 42 * 7), ("doc-01776", 1776 * 7)}
    assert point_lookup(spark, path, "doc_id", ["doc-99999"]).count() == 0


def test_empty_table_is_refused(spark, tmp_path):
    """Zero parquet files used to short-circuit into returning a
    never-created index dir (ADVICE r8) — now a clear error."""
    import pytest

    path = str(tmp_path / "empty")
    os.makedirs(path)
    with pytest.raises(ValueError, match="no parquet files to index"):
        refresh_point_index(spark, path, "k")


def test_index_refresh_is_incremental_and_drops_vanished(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    n1 = spark.read.parquet(idx_dir).count()
    assert n1 == 1_000

    # append a new data file: refresh must pick up ONLY its postings
    extra = str(tmp_path / "extra")
    spark.createDataFrame([(10_001, 9)], "k long, v long").coalesce(1).write.parquet(
        extra
    )
    part = glob.glob(os.path.join(extra, "*.parquet"))[0]
    dest = os.path.join(path, "part-extra.parquet")
    os.rename(part, dest)
    refresh_point_index(spark, path, "k")
    idx = spark.read.parquet(idx_dir)
    assert idx.count() == 1_001
    assert idx.where(F.col("key") == 10_001).count() == 1
    got = point_lookup(spark, path, "k", [10_001]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(10_001, 9)]

    # vanish the file: its postings must drop on the next refresh
    os.remove(dest)
    refresh_point_index(spark, path, "k")
    assert spark.read.parquet(idx_dir).where(F.col("key") == 10_001).count() == 0


def test_missing_keys_return_empty(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 100, 4)
    assert point_lookup(spark, path, "k", [123_456]).count() == 0


def test_partitioned_tables_are_refused(spark, tmp_path):
    """Reading posted leaf files of a hive layout would silently drop the
    partition columns — the index must refuse partitioned dirs and point
    at partition pruning / zone maps instead."""
    import pytest

    path = str(tmp_path / "part_tbl")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, p string, v double"
    ).write.partitionBy("p").parquet(path)
    with pytest.raises(ValueError, match="hive-partitioned"):
        refresh_point_index(spark, path, "k")


def test_index_survives_delete_and_compaction(spark, tmp_path):
    """apply_deletes replaces the files it compacts; the index's
    postings for those files dangle until the next refresh drops the
    vanished files and scans the replacements. point_lookup refreshes
    first, so lookups stay correct through the whole
    delete → lookup → compact → lookup cycle."""
    from mapreduce_google_spark.io import apply_deletes, delete_where

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 2_000, 8)
    refresh_point_index(spark, path, "k")

    assert delete_where(spark, path, F.col("k") % 10 == 3) == 200
    # merge-on-read composes with the index: the posted-files read
    # applies the DV sidecar, so a deleted key is gone IMMEDIATELY —
    # not just after compaction
    live = point_lookup(spark, path, "k", [3, 4])
    assert {r["k"] for r in live.collect()} == {4}

    stats = apply_deletes(spark, path)
    assert stats["dropped_rows"] == 200
    # post-compaction: replaced files vanished, new files unposted until
    # refresh — point_lookup's refresh heals both, and deleted keys are
    # physically gone
    gone = point_lookup(spark, path, "k", [3, 13, 23])
    assert gone.count() == 0
    kept = point_lookup(spark, path, "k", [4, 14, 24])
    assert {(r["k"], r["v"]) for r in kept.collect()} == {
        (4, 12), (14, 42), (24, 72)
    }


def _index_file_states(idx_dir: str) -> dict[str, tuple[int, int]]:
    return {
        f: (os.stat(f).st_mtime_ns, os.path.getsize(f))
        for f in glob.glob(os.path.join(idx_dir, "*.parquet"))
    }


def _append_source_file(spark, path: str, rows, schema: str, name: str) -> str:
    tmp = path + f"_stage_{name}"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = glob.glob(os.path.join(tmp, "*.parquet"))[0]
    dest = os.path.join(path, f"part-{name}.parquet")
    os.rename(part, dest)
    return dest


def test_append_refresh_rewrites_no_prior_index_file(spark, tmp_path):
    """The LSM contract (VERDICT r9 item 2): appending one small source
    file to a large indexed table must write ONLY a new delta segment —
    no pre-existing index byte is rewritten (compared by mtime+size),
    and lookups keep answering exactly across old and new segments."""
    import json

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 10_000, 16)
    # 4 index files in the base generation so the pruning assertion at
    # the end is non-vacuous (a single-file generation admits trivially)
    idx_dir = refresh_point_index(spark, path, "k", index_partitions=4)
    before = _index_file_states(idx_dir)
    assert len(before) >= 4

    _append_source_file(spark, path, [(20_001, 7)], "k long, v long", "a")
    refresh_point_index(spark, path, "k")
    after = _index_file_states(idx_dir)
    # every prior index file survives byte-identical...
    for f, st in before.items():
        assert after.get(f) == st, f"pre-existing index file rewritten: {f}"
    # ...and the delta segment is new files on top
    assert set(after) > set(before)
    sidecar = json.load(open(os.path.join(idx_dir, "_covered_files.json")))
    assert sidecar["segments"] == 2
    # lookups span segments: an old key and the appended key both answer
    got = {
        (r["k"], r["v"])
        for r in point_lookup(spark, path, "k", [123, 20_001]).collect()
    }
    assert got == {(123, 369), (20_001, 7)}
    # probe-side cost stays bounded by the segment count: a narrow key
    # range admits at most ONE index file per segment (disjoint
    # envelopes within each segment by range-partitioned construction)
    admitted, total = pruned_files_from_manifest(
        spark, idx_dir, {"key": (123, 123)}
    )
    assert len(admitted) <= sidecar["segments"] < total


def test_segment_budget_triggers_compaction(spark, tmp_path, monkeypatch):
    """Per-refresh delta segments accumulate until INDEX_COMPACT_SEGMENTS,
    then one merge rewrites the index into a single sorted generation —
    the O(index) rewrite is paid once per budget, not per refresh."""
    import json

    import mapreduce_google_spark.operators.scale as scale

    monkeypatch.setattr(scale, "INDEX_COMPACT_SEGMENTS", 3)
    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    flist = os.path.join(idx_dir, "_covered_files.json")

    _append_source_file(spark, path, [(50_001, 1)], "k long, v long", "s1")
    refresh_point_index(spark, path, "k")
    assert json.load(open(flist))["segments"] == 2

    _append_source_file(spark, path, [(50_002, 2)], "k long, v long", "s2")
    refresh_point_index(spark, path, "k")
    assert json.load(open(flist))["segments"] == 3

    # the 4th segment would exceed the budget -> full compaction
    _append_source_file(spark, path, [(50_003, 3)], "k long, v long", "s3")
    refresh_point_index(spark, path, "k")
    assert json.load(open(flist))["segments"] == 1
    # all postings survive the merge, exactly once
    idx = spark.read.parquet(idx_dir)
    assert idx.count() == 1_003
    assert idx.groupBy("key", "file").count().where("count > 1").count() == 0
    got = {
        (r["k"], r["v"])
        for r in point_lookup(
            spark, path, "k", [50_001, 50_002, 50_003, 500]
        ).collect()
    }
    assert got == {(50_001, 1), (50_002, 2), (50_003, 3), (500, 1_500)}


def test_vanished_source_file_forces_compaction(spark, tmp_path):
    """Replaced source files (compaction/rewrite upstream) must drop
    their postings — the LSM append path can't express a delete, so a
    vanished file routes the refresh through the compact path."""
    import json

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    dest = _append_source_file(spark, path, [(60_001, 9)], "k long, v long", "v1")
    refresh_point_index(spark, path, "k")
    assert json.load(open(os.path.join(idx_dir, "_covered_files.json")))[
        "segments"
    ] == 2

    os.remove(dest)
    refresh_point_index(spark, path, "k")
    assert json.load(open(os.path.join(idx_dir, "_covered_files.json")))[
        "segments"
    ] == 1
    assert (
        spark.read.parquet(idx_dir).where(F.col("key") == 60_001).count() == 0
    )
    assert point_lookup(spark, path, "k", [60_001]).count() == 0


def test_mixed_type_lookup_keys_never_raise_or_silently_miss(spark, tmp_path):
    """ADVICE r9: the CLI's int-when-it-parses fallback can hand
    point_lookup a mixed [str, int] key list. min() over it raised
    TypeError, and an int probed against a string column NULLed the
    manifest envelope comparisons (every file pruned, silent empty).
    Keys are now coerced to the key column's type."""
    path = str(tmp_path / "stbl")
    (
        spark.createDataFrame(
            [(f"doc-{i:05d}", i) for i in range(500)], "k string, v long"
        )
        .repartition(4, "k")
        .write.mode("overwrite")
        .parquet(path)
    )
    # mixed [str, int] probes against a STRING column: 17 coerces to "17"
    # (matches nothing), doc-00042 must still be found
    got = point_lookup(spark, path, "k", ["doc-00042", 17]).collect()
    assert [(r["k"], r["v"]) for r in got] == [("doc-00042", 42)]

    # string garbage against an INT column: dropped, never a cast error
    ipath = str(tmp_path / "itbl")
    _write_hashed(spark, ipath, 500, 4)
    got = point_lookup(spark, ipath, "k", ["doc-00042", "123", 7]).collect()
    assert {(r["k"], r["v"]) for r in got} == {(123, 369), (7, 21)}
    # whole-valued floats against an INT column equal the integer under
    # SQL numeric promotion (JSON round-trips ints to floats) — they
    # must match; fractional floats still match nothing (ADVICE r10:
    # the str()-only path dropped 3.0 where isin(3.0) used to hit k==3)
    got = point_lookup(spark, ipath, "k", [3.0, "5.0", 3.9, "6.5"]).collect()
    assert {(r["k"], r["v"]) for r in got} == {(3, 9), (5, 15)}
    # all-uncastable probe set: provably empty, zero files read
    assert point_lookup(spark, ipath, "k", ["x", "y"]).count() == 0


def test_torn_append_heals(spark, tmp_path, monkeypatch):
    """Crash-safety of the LSM append: if a refresh dies between writing
    its delta segment and updating the sidecar, the rerun re-appends the
    same postings (the sidecar still lists the source file as
    uncovered). Duplicated postings must never affect lookup answers
    (posted files are read DISTINCT and re-filtered), and the next
    compaction must dedupe the posting table."""
    import shutil

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")

    # simulate the torn rerun: duplicate an index segment file on disk
    seg = sorted(glob.glob(os.path.join(idx_dir, "*.parquet")))[0]
    shutil.copy(seg, os.path.join(idx_dir, "part-torn-dup.parquet"))
    idx = spark.read.parquet(idx_dir)
    assert idx.count() > idx.distinct().count()  # duplicates present

    # lookups stay exact through the duplicates
    got = {(r["k"], r["v"]) for r in point_lookup(spark, path, "k", [7]).collect()}
    assert got == {(7, 21)}

    # an append that trips the budget compacts — and the merge dedupes
    import mapreduce_google_spark.operators.scale as scale

    _append_source_file(spark, path, [(70_001, 1)], "k long, v long", "t1")
    monkeypatch.setattr(scale, "INDEX_COMPACT_SEGMENTS", 1)
    refresh_point_index(spark, path, "k")
    idx = spark.read.parquet(idx_dir)
    assert idx.count() == idx.distinct().count() == 1_001


def test_batched_lookup_uses_join_not_isin(spark, tmp_path):
    """Past POINT_LOOKUP_ISIN_MAX probe keys the lookup must answer via
    a broadcast semi-join instead of an isin() literal list — a 100k-key
    batch as one expression blows the codegen budget; as a joined
    relation it is O(|keys|) data. Answers must be identical to the
    needle path."""
    from mapreduce_google_spark.operators.scale import POINT_LOOKUP_ISIN_MAX
    from mapreduce_google_spark.plans import formatted_plan

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 5_000, 8)
    keys = list(range(0, 2 * POINT_LOOKUP_ISIN_MAX + 10, 2))  # > threshold
    df = point_lookup(spark, path, "k", keys)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    got = {(r["k"], r["v"]) for r in df.collect()}
    assert got == {(k, k * 3) for k in keys if k < 5_000}


def test_point_lookup_df_matches_list_path(spark, tmp_path):
    """VERDICT r10 item 7: the DataFrame probe entry point — keys come
    in as a (possibly string-typed) column, never a driver list. Same
    coercion semantics as the list path (garbage dropped, whole-valued
    floats match their integer, fractional floats never truncate-match),
    same answers, and the probe/re-filter are LEFT SEMI joins."""
    from mapreduce_google_spark.operators.scale import point_lookup_df
    from mapreduce_google_spark.plans import formatted_plan

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    keys_df = spark.createDataFrame(
        [("7",), ("42",), ("3.0",), ("3.9",), ("doc-x",), ("9999",), ("42",)],
        "key string",
    )
    df = point_lookup_df(spark, path, "k", keys_df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    got = {(r["k"], r["v"]) for r in df.collect()}
    assert got == {(7, 21), (42, 126), (3, 9)}

    # numeric probe column against the integer key works the same way
    keys_num = spark.range(990, 1_010).select(F.col("id").alias("probe"))
    got = {
        r["k"]
        for r in point_lookup_df(spark, path, "k", keys_num).collect()
    }
    assert got == set(range(990, 1_000))

    # empty / all-uncastable key sets: provably zero matches, no error
    assert point_lookup_df(
        spark, path, "k", spark.createDataFrame([("x",), ("y",)], "key string")
    ).count() == 0


def test_point_lookup_df_huge_keyset_does_not_broadcast(spark, tmp_path):
    """Past POINT_LOOKUP_BROADCAST_MAX measured keys the semi-join must
    NOT carry a broadcast hint — shipping a tens-of-millions key set to
    every executor is the driver-list mistake relocated. (Tested by
    tightening the constant, not by generating millions of rows.)"""
    import mapreduce_google_spark.operators.scale as scale
    from mapreduce_google_spark.plans import formatted_plan

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    keys_df = spark.range(500).select(F.col("id").alias("probe"))
    old = scale.POINT_LOOKUP_BROADCAST_MAX
    scale.POINT_LOOKUP_BROADCAST_MAX = 100
    try:
        df = scale.point_lookup_df(spark, path, "k", keys_df)
        plan = formatted_plan(df)
        assert "LeftSemi" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert df.count() == 500
    finally:
        scale.POINT_LOOKUP_BROADCAST_MAX = old


def _lock_is_free(lock: str) -> bool:
    """One non-blocking try of the refresh lock from a fresh descriptor
    (a held flock conflicts with it even inside the holder's process)."""
    from mapreduce_google_spark.io import exclusive

    try:
        with exclusive(lock, 0):
            return True
    except TimeoutError:
        return False


def test_concurrent_refresh_second_writer_fails_cleanly(spark, tmp_path):
    """VERDICT r10 item 6: the LSM refresh is single-writer — segment
    files and the sidecar mutate non-atomically, so a second concurrent
    writer must fail fast (ConcurrentRefreshError), not silently race.
    A killed holder's lock died with it; lookups stay exact throughout."""
    from mapreduce_google_spark.operators.scale import (
        ConcurrentRefreshError,
        point_lookup,
    )
    from tests.lock_holders import live_holder

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    lock = idx_dir.rstrip("/") + ".refresh.lock"
    assert _lock_is_free(lock)  # released after a successful build

    with live_holder(lock):
        # steady-state lookups are LOCK-FREE: a held lock never blocks a
        # reader whose refresh has nothing to do
        got = point_lookup(spark, path, "k", [7]).collect()
        assert {(r["k"], r["v"]) for r in got} == {(7, 21)}

        # force a mutating refresh (new source file) while the live
        # writer in another process holds the lock: must raise
        _append_source_file(spark, path, [(60_001, 9)], "k long, v long", "v1")
        try:
            refresh_point_index(spark, path, "k")
            raise AssertionError("second writer did not fail")
        except ConcurrentRefreshError as exc:
            assert lock in str(exc)
        assert not _lock_is_free(lock)  # a live holder is never displaced
        # the failed writer must not have touched the index: the
        # committed generation still answers exactly for its covered keys
        idx = spark.read.parquet(idx_dir)
        assert idx.count() == 1_000
        assert idx.where(F.col("key") == 60_001).count() == 0

    # the holder was killed: its lock died with it, refresh proceeds
    assert refresh_point_index(spark, path, "k") == idx_dir
    assert {
        (r["k"], r["v"]) for r in point_lookup(spark, path, "k", [60_001]).collect()
    } == {(60_001, 9)}


def test_refresh_lock_survives_compaction_overwrite(spark, tmp_path, monkeypatch):
    """The lock lives BESIDE the index dir: compaction's
    mode('overwrite') clears the index dir, and a lock stored inside it
    would be silently released mid-mutation. Prove the lock is held for
    the whole compaction and released only at the end."""
    import mapreduce_google_spark.operators.scale as scale

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    lock = idx_dir.rstrip("/") + ".refresh.lock"

    # instrument the locked mutation half to observe the lock mid-flight
    seen = {}
    real = scale._refresh_point_index_locked

    def spy(*a, **kw):
        seen["held_during_mutation"] = not _lock_is_free(lock)
        out = real(*a, **kw)
        seen["held_after_overwrite"] = not _lock_is_free(lock)
        return out

    scale._refresh_point_index_locked = spy
    try:
        _append_source_file(spark, path, [(70_001, 1)], "k long, v long", "c1")
        monkeypatch.setattr(scale, "INDEX_COMPACT_SEGMENTS", 1)
        refresh_point_index(spark, path, "k")  # forces compaction
    finally:
        scale._refresh_point_index_locked = real
    assert seen == {"held_during_mutation": True, "held_after_overwrite": True}
    assert _lock_is_free(lock)  # released after
    got = point_lookup(spark, path, "k", [70_001]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(70_001, 1)]


def test_batched_lookup_composes_with_deletion_vectors(spark, tmp_path):
    """The one combination r10 never exercised: a >POINT_LOOKUP_ISIN_MAX
    key batch (semi-join path) against a table carrying a _deletes
    sidecar. _metadata resolves only directly on a file-scan relation,
    so the DV coordinates must be projected BEFORE the semi-join —
    projecting after it raised AnalysisException and made merge-on-read
    silently unavailable to batched lookups. Deleted rows must never
    reappear through the index path, list or DataFrame probes alike."""
    from mapreduce_google_spark.io import delete_where
    from mapreduce_google_spark.operators.scale import point_lookup_df

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 5_000, 4)
    assert delete_where(spark, path, F.col("k") % 10 == 3) == 500

    # batched list path (delegates to the semi-join)
    got = point_lookup(spark, path, "k", list(range(2_500)))
    assert got.count() == 2_500 - 250
    assert got.where(F.col("k") % 10 == 3).count() == 0

    # DataFrame probe path directly
    probes = spark.range(2_500).select(F.col("id").alias("probe"))
    got = point_lookup_df(spark, path, "k", probes)
    assert got.count() == 2_500 - 250
    assert got.where(F.col("k") % 10 == 3).count() == 0


def test_real_concurrent_refresh_race_one_writer_wins(spark, tmp_path):
    """Two ACTUAL concurrent refresh calls (threads, not a hand-planted
    lock file): the first to take the refresh lock mutates while holding
    it; the second must fail with ConcurrentRefreshError while the
    holder is inside the mutation. Afterwards the index is exactly the
    single-writer result and a rerun refresh is a clean no-op."""
    import threading
    import time as _time

    import mapreduce_google_spark.operators.scale as scale
    from mapreduce_google_spark.operators.scale import ConcurrentRefreshError

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    _append_source_file(spark, path, [(80_001, 2)], "k long, v long", "r1")

    real = scale._refresh_point_index_locked
    entered = threading.Event()
    release = threading.Event()

    def slow(*a, **kw):
        entered.set()
        release.wait(timeout=30)
        return real(*a, **kw)

    scale._refresh_point_index_locked = slow
    errors: list = []

    def second():
        entered.wait(timeout=30)
        try:
            refresh_point_index(spark, path, "k")
            errors.append(None)
        except ConcurrentRefreshError as exc:
            errors.append(exc)

    try:
        t1 = threading.Thread(
            target=lambda: refresh_point_index(spark, path, "k")
        )
        t2 = threading.Thread(target=second)
        t1.start()
        t2.start()
        t2.join(timeout=60)
        release.set()
        t1.join(timeout=120)
    finally:
        release.set()
        scale._refresh_point_index_locked = real

    assert len(errors) == 1 and isinstance(errors[0], ConcurrentRefreshError)
    # single-writer result: exactly one appended segment, postings exact
    idx = spark.read.parquet(idx_dir)
    assert idx.where(F.col("key") == 80_001).count() == 1
    assert idx.count() == 1_001
    # steady state afterwards: lock-free no-op
    assert refresh_point_index(spark, path, "k") == idx_dir
    got = point_lookup(spark, path, "k", [80_001]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(80_001, 2)]


@pytest.mark.parametrize("sidecar", ["list", "missing"])
def test_index_without_dict_sidecar_is_rebuilt(spark, tmp_path, sidecar):
    """An index whose ``_covered_files.json`` is a bare file list, or
    absent, counts as unbuilt: the refresh rebuilds it through the
    compact path instead of trusting the list or scanning the postings.
    Planted here over a stale posting table that covers one of the four
    source files, so trusting the list would miss keys."""
    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    flist = os.path.join(idx_dir, "_covered_files.json")
    files = json.load(open(flist))["covered"]
    stale = (
        spark.read.parquet(idx_dir)
        .where(F.col("file") == files[0])
        .localCheckpoint()  # don't read from the dir being replaced
    )
    stale.write.mode("overwrite").parquet(idx_dir)  # drops sidecar + manifest
    if sidecar == "list":
        with open(flist, "w") as fh:
            json.dump(files, fh)

    refresh_point_index(spark, path, "k")
    assert json.load(open(flist)) == {"covered": files, "segments": 1}
    posted = spark.read.parquet(idx_dir).select("file").distinct().collect()
    assert {r.file for r in posted} == set(files)
    keys = list(range(0, 1_000, 37))
    got = {(r.k, r.v) for r in point_lookup(spark, path, "k", keys).collect()}
    scan = spark.read.parquet(path).where(F.col("k").isin(keys)).collect()
    assert got == {(r.k, r.v) for r in scan}
    assert len(got) == len(keys)


def test_covered_sidecar_swap_is_atomic_artifact(spark, tmp_path, monkeypatch):
    """ADVICE r11: steady-state lookups read _covered_files.json WITHOUT
    the refresh lock, so the writer must swap it with os.replace — a
    reader can then never see a truncated/empty JSON. Artifact check:
    valid sidecar and no .tmp residue after both an append refresh and
    a compaction."""
    import json

    import mapreduce_google_spark.operators.scale as scale

    path = str(tmp_path / "tbl")
    _write_hashed(spark, path, 1_000, 4)
    idx_dir = refresh_point_index(spark, path, "k")
    _append_source_file(spark, path, [(80_001, 5)], "k long, v long", "a1")
    refresh_point_index(spark, path, "k")  # append (delta segment)
    _append_source_file(spark, path, [(80_002, 6)], "k long, v long", "a2")
    monkeypatch.setattr(scale, "INDEX_COMPACT_SEGMENTS", 1)
    refresh_point_index(spark, path, "k")  # compaction
    flist = os.path.join(idx_dir, "_covered_files.json")
    sidecar = json.load(open(flist))
    assert set(sidecar) == {"covered", "segments"}
    assert len(sidecar["covered"]) == 6  # 4 base + 2 appended
    assert not [
        n for n in os.listdir(idx_dir) if n.startswith("_covered_files.json.tmp")
    ]


def test_bloom_lookup_equals_indexed_lookup(spark, sf_dir):
    """The registered t237 default (bloom-layout lookup, flipped r15)
    must answer exactly what the posting-index form answers — same
    probe ids, same rows, same rounding — and its plan must carry the
    pushed equality predicate into the bloom layout's scan (the
    mechanism that lets row groups self-exclude). Both forms read the
    ONE consolidated lookup copy."""
    from mapreduce_google_spark.operators.scale import (
        bloom_point_lookup,
        indexed_point_lookup,
    )
    from mapreduce_google_spark.plans import formatted_plan

    ref = [tuple(r) for r in indexed_point_lookup(spark, sf_dir).collect()]
    got = [tuple(r) for r in bloom_point_lookup(spark, sf_dir).collect()]
    assert got == ref and len(ref) > 0

    plan = formatted_plan(bloom_point_lookup(spark, sf_dir))
    assert "PushedFilters" in plan and "event_id" in plan, plan


def test_lookup_copy_carries_bloom_bytes(spark, sf_dir, tmp_path):
    """The r15 consolidation invariant: the ONE events lookup copy
    (_indexed_events_path) must actually carry bloom filter bytes — a
    regression to a plain write would silently keep t237 correct (the
    pushed predicate still filters) while losing the row-group skip
    the flip was measured on. pyarrow cannot read bloom metadata, so
    presence is asserted the way test_write_parquet_bloom does: the
    layout's data bytes exceed a plain rewrite of the same rows."""
    import os

    from mapreduce_google_spark.operators.scale import _indexed_events_path

    lookup = _indexed_events_path(spark, sf_dir)
    plain = str(tmp_path / "plain")
    spark.read.parquet(lookup).repartition(16, "event_id").write.parquet(plain)

    def size(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert size(lookup) > size(plain) * 1.02, (size(plain), size(lookup))


def test_bloom_lookup_fuzz_probe_sets(spark, tmp_path):
    """Property fuzz for the r15 default lookup path: on ONE
    bloom-enabled, DV-deleted table, bloom_lookup must agree with a
    plain filtered read of the deletes-applied relation for adversarial
    probe sets — all-miss, all-hit, mixed, duplicated keys, keys at the
    domain edges, deleted keys, and the empty set (which must return a
    schema-only empty frame, not scan). Deterministic seed: the probe
    sets are fixed draws, not per-run randomness — a failure replays."""
    import random

    from mapreduce_google_spark.io import (
        delete_where,
        read_with_deletes,
        write_parquet_bloom,
    )
    from mapreduce_google_spark.operators.scale import bloom_lookup

    n = 20_000
    path = str(tmp_path / "tbl")
    write_parquet_bloom(
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 7 % 991).alias("v"))
        .repartition(8, "k"),
        path,
        {"k": n // 8},
    )
    deleted = delete_where(spark, path, (F.col("k") % 13) == 0)
    assert deleted == (n - 1) // 13 + 1  # multiples of 13 in [0, n)
    ref = {
        (r["k"], r["v"]) for r in read_with_deletes(spark, path).collect()
    }
    rng = random.Random(1517)
    probe_sets = [
        [],  # empty: provably-zero result, schema intact
        [0, 13, 26],  # all deleted
        [-5, n, n + 17],  # all outside the domain
        [0, 1, 1, 2, 2, 2],  # duplicates (deleted + survivors)
        [n - 1, n - 2, 0],  # domain edges
        rng.sample(range(-100, n + 100), 40),  # mixed draw
        rng.sample(range(n), 25),  # in-domain draw
    ]
    for probes in probe_sets:
        got = {
            (r["k"], r["v"])
            for r in bloom_lookup(spark, path, "k", probes).collect()
        }
        want = {t for t in ref if t[0] in set(probes)}
        assert got == want, (probes[:8], len(got), len(want))
    # empty probe set keeps the schema AND elides the scan: the
    # lit(false) short-circuit (ADVICE r15) must collapse to an empty
    # LocalRelation — no file scan in the physical plan
    from mapreduce_google_spark.plans import formatted_plan

    empty = bloom_lookup(spark, path, "k", [])
    assert [f.name for f in empty.schema.fields] == ["k", "v"]
    assert empty.count() == 0
    plan = formatted_plan(empty)
    assert "Scan parquet" not in plan, plan
    assert "LocalTableScan" in plan or "EmptyRelation" in plan, plan


def test_bloom_lookup_applies_deletes_sidecar(spark, tmp_path):
    """ADVICE r14 flip gate: the bloom lookup must route through
    read_with_deletes — a bare parquet read of a bloom layout would
    silently resurrect DV-deleted rows on merge-on-read tables. Build a
    bloom-enabled table, DV-delete one probed key, and pin that the
    lookup masks it while still answering the surviving probes; the
    pushed predicate must survive the coordinate projection and the DV
    anti-join down to the scan."""
    from mapreduce_google_spark.io import delete_where, write_parquet_bloom
    from mapreduce_google_spark.operators.scale import bloom_lookup
    from mapreduce_google_spark.plans import formatted_plan

    path = str(tmp_path / "tbl")
    write_parquet_bloom(
        spark.range(10_000)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .repartition(8, "k"),
        path,
        {"k": 10_000 // 8},
    )
    probes = [11, 5_021, 9_900]
    before = {
        (r["k"], r["v"]) for r in bloom_lookup(spark, path, "k", probes).collect()
    }
    assert before == {(k, k * 3) for k in probes}
    assert delete_where(spark, path, F.col("k") == 5_021) == 1
    after = {
        (r["k"], r["v"]) for r in bloom_lookup(spark, path, "k", probes).collect()
    }
    assert after == {(k, k * 3) for k in probes if k != 5_021}
    plan = formatted_plan(bloom_lookup(spark, path, "k", probes))
    assert "PushedFilters" in plan and "k" in plan, plan
