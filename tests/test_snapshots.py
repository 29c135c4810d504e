"""Snapshot machinery (t226/t227/t228): CDC diff classification,
file-level zone-map pruning, and the versioned time-travel store —
including the crash-safety property (an orphan data directory is
invisible until the manifest commits it)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_google_spark.io import list_versions, read_snapshot, versioned_write
from mapreduce_google_spark.operators.scale import (
    pruned_file_list,
    snapshot_diff,
    write_zordered,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k int, a string, v double")


def test_snapshot_diff_classifies_all_four_types(spark):
    old = _frame(spark, [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)])
    new = _frame(spark, [(1, "x", 1.0), (2, "y", 9.0), (4, "w", 4.0)])
    d = snapshot_diff(old, new, ["k"], ["a", "v"], carry_old=("v",), carry_new=("v",))
    got = {r["k"]: r["change_type"] for r in d.collect()}
    assert got == {1: "unchanged", 2: "update", 3: "delete", 4: "insert"}


def test_snapshot_diff_carries_both_sides(spark):
    old = _frame(spark, [(2, "y", 2.0)])
    new = _frame(spark, [(2, "y", 9.0)])
    row = snapshot_diff(
        old, new, ["k"], ["v"], carry_old=("v",), carry_new=("v",)
    ).first()
    assert (row["old_v"], row["new_v"], row["change_type"]) == (2.0, 9.0, "update")


def test_snapshot_diff_shuffles_fingerprints_not_rows(spark):
    """The scale claim: the join input carries key + fingerprint + the
    requested carries — a wide column set that is compared but not
    carried must not appear in the join's plan output."""
    old = _frame(spark, [(1, "payload-a", 1.0)])
    new = _frame(spark, [(1, "payload-a", 1.0)])
    d = snapshot_diff(old, new, ["k"], ["a", "v"])
    # compared-only columns are hashed away, not projected through
    assert set(d.columns) == {"k", "change_type"}


def test_versioned_store_time_travel_and_latest(spark, tmp_path):
    root = str(tmp_path / "snap")
    v1 = versioned_write(spark.range(5).select(F.col("id").alias("n")), root)
    v2 = versioned_write(spark.range(8).select(F.col("id").alias("n")), root)
    assert (v1, v2) == (1, 2)
    assert list_versions(root) == [1, 2]
    assert read_snapshot(spark, root).count() == 8  # latest
    assert read_snapshot(spark, root, version=1).count() == 5  # pinned


def test_versioned_store_orphan_directory_is_invisible(spark, tmp_path):
    """Crash between data write and manifest swap leaves an unlisted
    v=N directory: readers must not see it, and the next commit must
    not resurrect it."""
    root = str(tmp_path / "snap")
    versioned_write(spark.range(3).select(F.col("id").alias("n")), root)
    # simulate a crashed writer: data directory exists, manifest untouched
    spark.range(99).select(F.col("id").alias("n")).write.parquet(
        os.path.join(root, "v=2")
    )
    assert list_versions(root) == [1]
    assert read_snapshot(spark, root).count() == 3
    try:
        read_snapshot(spark, root, version=2)
        raise AssertionError("orphan version was readable")
    except ValueError:
        pass


def test_versioned_store_manifest_swap_is_atomic_artifact(spark, tmp_path):
    """The commit artifact is a tiny JSON swapped with os.replace — no
    .tmp residue after a successful publish."""
    root = str(tmp_path / "snap")
    versioned_write(spark.range(2).select(F.col("id").alias("n")), root)
    names = os.listdir(root)
    assert "_versions.json" in names
    assert not [n for n in names if n.endswith(".tmp")]
    with open(os.path.join(root, "_versions.json")) as fh:
        assert json.load(fh) == {"versions": [1]}


def test_pruned_file_list_is_conservative_and_effective(spark, tmp_path):
    """File pruning must (a) never lose a matching row — reading the
    kept files + filter equals the full scan + filter — and (b) actually
    drop files on a clustered layout."""
    df = spark.range(100_000).select(
        F.pmod(F.xxhash64("id"), F.lit(512)).cast("long").alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 12345), F.lit(512)).cast("long").alias("y"),
    )
    path = str(tmp_path / "z")
    write_zordered(df, path, ["x", "y"], bits=9, num_files=8)
    box = {"x": (0, 63), "y": (0, 63)}
    files, total = pruned_file_list(path, box)
    assert 0 < len(files) < total, (len(files), total)
    cond = F.col("x").between(0, 63) & F.col("y").between(0, 63)
    full = spark.read.parquet(path).where(cond).count()
    pruned = spark.read.parquet(*files).where(cond).count()
    assert pruned == full > 0


def test_vacuum_drops_old_versions_and_orphans(spark, tmp_path):
    from mapreduce_google_spark.io import vacuum_snapshots

    root = str(tmp_path / "snap")
    for n in (3, 5, 8):
        versioned_write(spark.range(n).select(F.col("id").alias("n")), root)
    # crashed writer leaves an uncommitted directory
    spark.range(42).select(F.col("id").alias("n")).write.parquet(
        os.path.join(root, "v=9")
    )
    out = vacuum_snapshots(root, keep_last=2)
    assert out == {"dropped": [1], "orphans": [9]}
    assert list_versions(root) == [2, 3]
    assert sorted(
        n for n in os.listdir(root) if n.startswith("v=")
    ) == ["v=2", "v=3"]
    # survivors still readable; next version number keeps ascending
    assert read_snapshot(spark, root, version=2).count() == 5
    assert versioned_write(
        spark.range(1).select(F.col("id").alias("n")), root
    ) == 4


def test_file_manifest_incremental_refresh_and_pruning(spark, tmp_path):
    """The persisted manifest must (a) prune identically to the footer
    walk, (b) refresh incrementally — a new file adds exactly one row,
    existing rows survive untouched — and (c) drop rows for vanished
    files."""
    from mapreduce_google_spark.operators.scale import (
        pruned_files_from_manifest,
        refresh_file_manifest,
    )

    df = spark.range(50_000).select(
        F.pmod(F.xxhash64("id"), F.lit(256)).cast("long").alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 999), F.lit(256)).cast("long").alias("y"),
    )
    path = str(tmp_path / "z")
    write_zordered(df, path, ["x", "y"], bits=8, num_files=6)
    box = {"x": (0, 31), "y": (0, 31)}

    walk_files, walk_total = pruned_file_list(path, box)
    man_files, man_total = pruned_files_from_manifest(spark, path, box)
    assert (man_files, man_total) == (walk_files, walk_total)

    # incremental: add one file covering a disjoint region
    extra = os.path.join(path, "part-extra.parquet")
    spark.range(1000).select(
        (F.lit(1000) + F.pmod(F.xxhash64("id"), F.lit(10))).alias("x"),
        (F.lit(1000) + F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10))).alias("y"),
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    import glob
    import shutil

    shutil.copy(glob.glob(str(tmp_path / "stage" / "*.parquet"))[0], extra)
    man2 = refresh_file_manifest(spark, path, ["x", "y"])
    assert man2.count() == man_total + 1
    # the new file sits outside the box → pruned set unchanged
    man_files2, man_total2 = pruned_files_from_manifest(spark, path, box)
    assert man_total2 == man_total + 1 and man_files2 == walk_files

    # vanished file → its manifest row is dropped on refresh
    os.remove(extra)
    man3 = refresh_file_manifest(spark, path, ["x", "y"])
    assert man3.count() == man_total


def test_snapshot_totals_recovers_from_crash_after_v1(spark, sf_dir):
    """If a previous run died between the v1 and v2 writes, the next
    call must publish the MERGED table as v2 — not re-publish the raw
    source."""
    import shutil

    from mapreduce_google_spark.operators.scale import (
        _events_snapshot_root,
        _events_source,
        snapshot_version_totals,
    )

    root = _events_snapshot_root(spark, sf_dir)
    shutil.rmtree(root)
    versioned_write(_events_source(spark, sf_dir), root)  # simulated crash point
    rows = snapshot_version_totals(spark, sf_dir).collect()
    assert [r["version"] for r in rows] == [1, 2]
    assert rows[1]["n_events"] > rows[0]["n_events"]  # v2 has the late inserts


def test_snapshot_chain_ensured_by_two_threads_is_published_once(
    spark, sf_dir, store_root_in_tmp_path
):
    """Two threads ensuring the t228 chain on a fresh store root publish
    it once: versions [1, 2], v1 the source and v2 the merge that holds
    the late inserts, never a second copy of the raw source."""
    import threading

    from mapreduce_google_spark.operators.scale import (
        UPSERT_INSERT_OFFSET,
        _events_snapshot_root,
    )

    roots, errors = [], []

    def ensure() -> None:
        try:
            roots.append(_events_snapshot_root(spark, sf_dir))
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=ensure) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    root = roots[0]
    assert roots == [root, root]
    assert root.startswith(str(store_root_in_tmp_path))
    assert list_versions(root) == [1, 2]
    late = F.col("event_id") >= UPSERT_INSERT_OFFSET
    v1, v2 = (read_snapshot(spark, root, version=v) for v in (1, 2))
    assert v1.where(late).count() == 0
    assert v2.where(late).count() > 0


def test_manifest_steady_state_call_does_not_rewrite(spark, tmp_path):
    from mapreduce_google_spark.operators.scale import refresh_file_manifest

    df = spark.range(10_000).select(
        F.pmod(F.xxhash64("id"), F.lit(64)).cast("long").alias("x")
    )
    path = str(tmp_path / "t")
    df.write.parquet(path)
    refresh_file_manifest(spark, path, ["x"])
    mdir = os.path.join(path, "_manifest")
    before = {
        f: os.path.getmtime(os.path.join(mdir, f)) for f in os.listdir(mdir)
    }
    refresh_file_manifest(spark, path, ["x"])  # no change → no rewrite
    after = {
        f: os.path.getmtime(os.path.join(mdir, f)) for f in os.listdir(mdir)
    }
    assert after == before


def test_manifest_derives_stat_types_from_schema(spark, tmp_path):
    """Envelope columns must carry the data column's type (ADVICE r7:
    the schema was hardcoded long, so double/string stat columns broke
    the CLI manifest verb) — and range pruning must work on them."""
    from mapreduce_google_spark.operators.scale import (
        pruned_files_from_manifest,
        refresh_file_manifest,
    )

    path = str(tmp_path / "typed")
    (
        spark.range(0, 100)
        .select(
            "id",
            (F.col("id") / 2.0).alias("x"),
            F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 3, "0")).alias("s"),
        )
        .repartition(2, "id")
        .sortWithinPartitions("id")
        .write.parquet(path)
    )
    man = refresh_file_manifest(spark, path, ["id", "x", "s"])
    types = dict(man.dtypes)
    assert types["min_id"] == "bigint" and types["min_x"] == "double"
    assert types["min_s"] == "string"
    files, total = pruned_files_from_manifest(spark, path, {"x": (0.0, 1.0)})
    assert total == 2 and len(files) >= 1
    # unsupported stat type (array) → clear error, not a createDataFrame blowup
    bad = str(tmp_path / "arr")
    spark.range(3).select(F.array("id").alias("a")).write.parquet(bad)
    import pytest

    with pytest.raises(ValueError, match="unsupported type"):
        refresh_file_manifest(spark, bad, ["a"])


def test_duplicate_manifest_rows_never_double_reads(spark, tmp_path):
    """A manifest carrying duplicate rows for a file (torn or raced
    rewrite — concurrent mutating refreshes are documented
    last-writer-wins) must never surface the same path twice from
    pruning: spark.read.parquet(*files) reads a repeated path TWICE,
    which would silently double that file's rows in whatever consumed
    the pruning. The consumer dedupes defensively."""
    import glob

    from mapreduce_google_spark.operators.scale import (
        pruned_files_from_manifest,
        refresh_file_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(1_000).select(
        F.col("id").alias("x"), (F.col("id") * 2).alias("v")
    ).repartition(4).write.parquet(path)
    refresh_file_manifest(spark, path, ["x"])
    mdir = os.path.join(path, "_manifest")

    # simulate the torn rewrite: duplicate the manifest's content file
    part = sorted(glob.glob(os.path.join(mdir, "*.parquet")))[0]
    import shutil

    shutil.copy(part, os.path.join(mdir, "part-torn-dup.parquet"))
    man = spark.read.parquet(mdir)
    assert man.count() > man.select("file").distinct().count()

    files, total = pruned_files_from_manifest(spark, path, {"x": (0, 999)})
    assert len(files) == len(set(files)) == total == 4
    assert spark.read.parquet(*files).count() == 1_000  # not doubled


def test_manifest_pruned_reads_apply_deletion_vectors(spark, tmp_path):
    """Composition gap of the r11 batched-lookup bug class, closed at
    the source: reading a pruned file list with a bare
    spark.read.parquet(*files) resurrects DV-deleted rows on
    merge-on-read tables. Every pruned read goes through
    io.read_files_with_deletes, which applies the sidecar on the scan
    relation."""
    from mapreduce_google_spark.io import delete_where, read_files_with_deletes
    from mapreduce_google_spark.operators.scale import pruned_files_from_manifest

    path = str(tmp_path / "t")
    spark.range(1_000).select(
        F.col("id").alias("x"), (F.col("id") * 2).alias("v")
    ).repartition(4).write.parquet(path)
    assert delete_where(spark, path, F.col("x") % 10 == 3) == 100

    files, total = pruned_files_from_manifest(spark, path, {"x": (0, 999)})
    assert total == 4
    got = read_files_with_deletes(spark, path, files)
    assert got.count() == 900
    assert got.where(F.col("x") % 10 == 3).count() == 0

    # empty pruning: schema-only empty frame, never a full-table scan
    empty = read_files_with_deletes(spark, path, [])
    assert empty.columns == ["x", "v"] and empty.count() == 0


def test_crashed_publish_does_not_brick_the_store(spark, tmp_path):
    """A crash between data write and manifest swap leaves an orphan
    v=N directory. Allocating the next version from the manifest alone
    collided with the orphan (mode('error') raised) — EVERY later
    publish failed until a vacuum swept it. The allocator now skips any
    on-disk v=N, so publishing continues; the orphan stays unreadable
    and vacuumable."""
    import pytest

    from mapreduce_google_spark.io import (
        read_snapshot,
        vacuum_snapshots,
        versioned_write,
    )

    root = str(tmp_path / "store")
    assert versioned_write(spark.range(3).selectExpr("id AS n"), root) == 1
    assert versioned_write(spark.range(5).selectExpr("id AS n"), root) == 2
    # simulate the crashed writer: data directory exists, manifest never
    # learned about it
    os.makedirs(os.path.join(root, "v=3"))

    assert versioned_write(spark.range(7).selectExpr("id AS n"), root) == 4
    assert read_snapshot(spark, root).count() == 7
    with pytest.raises(ValueError, match="not committed"):
        read_snapshot(spark, root, version=3)
    assert vacuum_snapshots(root, keep_last=2)["orphans"] == [3]


def test_concurrent_versioned_writes_get_distinct_versions(spark, tmp_path):
    """Two publishers racing the same store must both succeed with
    DISTINCT version numbers and BOTH commits visible in the manifest —
    the claim-file allocator serializes numbering, and the locked
    manifest swap re-reads committed versions so a slow writer cannot
    swap away a fast writer's commit."""
    import threading

    from mapreduce_google_spark.io import (
        list_versions,
        read_snapshot,
        versioned_write,
    )

    root = str(tmp_path / "store")
    versioned_write(spark.range(1).selectExpr("id AS n"), root)

    results: list[int] = []
    errors: list[Exception] = []

    def publish(rows: int) -> None:
        try:
            results.append(
                versioned_write(spark.range(rows).selectExpr("id AS n"), root)
            )
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    threads = [threading.Thread(target=publish, args=(r,)) for r in (10, 20)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert sorted(results) == [2, 3]
    assert list_versions(root) == [1, 2, 3]
    assert {read_snapshot(spark, root, version=v).count() for v in (2, 3)} == {
        10,
        20,
    }
    # no allocator debris after clean publishes
    assert not [f for f in os.listdir(root) if f.endswith(".claim")]


def test_dead_publisher_claim_is_reclaimed_at_allocation(spark, tmp_path):
    """VERDICT r11 item 5: a publisher that crashes between claiming a
    version number and its commit must not block the number forever.
    Its claim's lock died with it, so the next allocation removes the
    claim and the next publish REUSES the number."""
    from mapreduce_google_spark.io import versioned_write
    from tests.lock_holders import killed_holder

    root = str(tmp_path / "store")
    assert versioned_write(spark.range(3).selectExpr("id AS n"), root) == 1
    killed_holder(os.path.join(root, "v=2.claim"))
    # no data dir for v=2 (crashed before the write): number is reusable
    assert versioned_write(spark.range(5).selectExpr("id AS n"), root) == 2
    assert list_versions(root) == [1, 2]
    assert not [f for f in os.listdir(root) if f.endswith(".claim")]


def test_live_claim_is_never_reclaimed(spark, tmp_path):
    """A claim held by a LIVE process is an in-flight publish: neither
    allocation nor vacuum may touch it (or its data dir) — doing so
    would re-open the allocation collision the claim protocol exists to
    prevent (ADVICE r11)."""
    from mapreduce_google_spark.io import vacuum_snapshots, versioned_write
    from tests.lock_holders import live_holder

    root = str(tmp_path / "store")
    versioned_write(spark.range(3).selectExpr("id AS n"), root)
    claim = os.path.join(root, "v=2.claim")
    with live_holder(claim):
        # mid-publish: the claimed version's data is landing
        spark.range(9).selectExpr("id AS n").write.parquet(
            os.path.join(root, "v=2")
        )
        # a concurrent publisher must allocate PAST the live claim
        assert versioned_write(spark.range(5).selectExpr("id AS n"), root) == 3
        # vacuum must leave both the live claim and its uncommitted dir
        out = vacuum_snapshots(root, keep_last=10)
        assert out["orphans"] == []
        assert os.path.exists(claim)
        assert os.path.isdir(os.path.join(root, "v=2"))
        assert list_versions(root) == [1, 3]

    # once the holder is dead, vacuum sweeps BOTH
    out = vacuum_snapshots(root, keep_last=10)
    assert out["orphans"] == [2]
    assert not os.path.exists(claim)
    assert not os.path.exists(os.path.join(root, "v=2"))


def test_vacuum_removes_claim_leftover_from_crash_after_commit(spark, tmp_path):
    """Crash AFTER the manifest swap but before claim cleanup: the
    version is committed and permanently taken, the marker is junk —
    vacuum removes it, and the version's data survives."""
    from mapreduce_google_spark.io import read_snapshot, vacuum_snapshots, versioned_write
    from tests.lock_holders import killed_holder

    root = str(tmp_path / "store")
    versioned_write(spark.range(3).selectExpr("id AS n"), root)
    versioned_write(spark.range(5).selectExpr("id AS n"), root)
    killed_holder(os.path.join(root, "v=2.claim"))
    vacuum_snapshots(root, keep_last=10)
    assert not [f for f in os.listdir(root) if f.endswith(".claim")]
    assert read_snapshot(spark, root, version=2).count() == 5


def test_vacuum_races_concurrent_publishers_without_losing_commits(spark, tmp_path):
    """ADVICE r11 end-to-end: vacuum interleaved with live publishers
    must never lose a commit (manifest swap runs under the shared
    lock), never delete an in-flight publish's data dir or claim, and
    the store must end consistent — every manifest version readable,
    retention respected."""
    import threading

    from mapreduce_google_spark.io import (
        read_snapshot,
        vacuum_snapshots,
        versioned_write,
    )

    root = str(tmp_path / "store")
    versioned_write(spark.range(1).selectExpr("id AS n"), root)

    published: list[int] = []
    errors: list[Exception] = []
    stop = threading.Event()

    def publisher(seed: int) -> None:
        try:
            for i in range(4):
                published.append(
                    versioned_write(
                        spark.range(seed * 10 + i + 1).selectExpr("id AS n"), root
                    )
                )
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    def vacuumer() -> None:
        try:
            while not stop.is_set():
                vacuum_snapshots(root, keep_last=3)
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    pubs = [threading.Thread(target=publisher, args=(s,)) for s in (1, 2)]
    vac = threading.Thread(target=vacuumer)
    vac.start()
    for t in pubs:
        t.start()
    for t in pubs:
        t.join(timeout=300)
    stop.set()
    vac.join(timeout=60)
    assert not errors, errors
    # every publish got a DISTINCT version (no allocation collision
    # re-opened by a racing claim sweep)
    assert len(published) == 8 and len(set(published)) == 8
    # final state: one more vacuum, then every surviving version reads
    vacuum_snapshots(root, keep_last=3)
    vs = list_versions(root)
    assert len(vs) == 3
    for v in vs:
        assert read_snapshot(spark, root, version=v).count() >= 1
    # no stale debris: every claim gone, every on-disk dir committed
    leftovers = [n for n in os.listdir(root) if n.endswith(".claim")]
    assert not leftovers
    dirs = sorted(
        int(n.split("=")[1]) for n in os.listdir(root) if n.startswith("v=")
    )
    assert dirs == vs


def test_vacuum_retention_floor_protects_young_versions(spark, tmp_path):
    """min_age_s (Delta/Iceberg VACUUM RETAIN): committed versions
    younger than the floor survive past keep_last, and a young
    uncommitted directory is not yet presumed crashed. With the floor
    off, both are reclaimed as before."""
    from mapreduce_google_spark.io import vacuum_snapshots, versioned_write

    root = str(tmp_path / "store")
    for n in (3, 5, 8):
        versioned_write(spark.range(n).selectExpr("id AS n"), root)
    os.makedirs(os.path.join(root, "v=9"))  # young uncommitted dir

    out = vacuum_snapshots(root, keep_last=1, min_age_s=3600)
    assert out == {"dropped": [], "orphans": []}  # everything too young
    assert list_versions(root) == [1, 2, 3]
    assert os.path.isdir(os.path.join(root, "v=9"))

    # age v=1 and the orphan past the floor; v=2/v=3 stay young
    old = __import__("time").time() - 7200
    os.utime(os.path.join(root, "v=1"), (old, old))
    os.utime(os.path.join(root, "v=9"), (old, old))
    out = vacuum_snapshots(root, keep_last=1, min_age_s=3600)
    assert out == {"dropped": [1], "orphans": [9]}
    assert list_versions(root) == [2, 3]  # v=2 kept past keep_last: young

    out = vacuum_snapshots(root, keep_last=1)  # floor off: old behavior
    assert out == {"dropped": [2], "orphans": []}
    assert list_versions(root) == [3]


def test_snapshot_store_crash_vacuum_publish_fuzz(spark, tmp_path):
    """Deterministic seeded fuzz over the store's failure alphabet —
    publish, crash-before-data (dead claim only), crash-before-commit
    (dead claim + partial dir), crash-after-commit (leftover claim),
    vacuum (with and without retention floor). Invariants after every
    step: committed versions are ascending with data dirs present, a
    publish ALWAYS succeeds (no bricked store, the r10/r11 failure
    class), and committed data is never deleted except by retention."""
    import random

    from mapreduce_google_spark.io import (
        vacuum_snapshots,
        versioned_write,
    )
    from tests.lock_holders import killed_holder

    rng = random.Random(0xC0FFEE)
    root = str(tmp_path / "store")

    def publish() -> None:
        v = versioned_write(spark.range(2).selectExpr("id AS n"), root)
        assert v not in published, "allocator reused a committed number"
        published.add(v)

    def crash_before_data() -> None:
        vs = set(list_versions(root))
        n = (max(vs) if vs else 0) + rng.randint(1, 2)
        killed_holder(os.path.join(root, f"v={n}.claim"))

    def crash_before_commit() -> None:
        vs = set(list_versions(root))
        n = (max(vs) if vs else 0) + rng.randint(1, 2)
        d = os.path.join(root, f"v={n}")
        if not os.path.exists(d):
            os.makedirs(d)  # partial data, no _SUCCESS
        killed_holder(os.path.join(root, f"v={n}.claim"))

    def crash_after_commit() -> None:
        vs = list_versions(root)
        if not vs:
            return
        killed_holder(os.path.join(root, f"v={vs[-1]}.claim"))

    def vacuum() -> None:
        keep = rng.choice([1, 2, 3])
        floor = rng.choice([0.0, 3600.0])
        out = vacuum_snapshots(root, keep_last=keep, min_age_s=floor)
        for v in out["dropped"]:
            published.discard(v)

    ops = [publish, crash_before_data, crash_before_commit,
           crash_after_commit, vacuum]
    published: set[int] = set()
    publish()  # seed the store
    for _step in range(30):
        rng.choice(ops)()
        vs = list_versions(root)
        assert vs == sorted(set(vs)), "manifest not strictly ascending"
        assert set(vs) == published, (
            f"committed set drifted: manifest {vs} vs survived {published}"
        )
        for v in vs:  # every committed version still has its data
            assert os.path.exists(os.path.join(root, f"v={v}", "_SUCCESS")), v
    publish()  # the store must never end bricked


def test_dead_manifest_lock_is_broken_automatically(spark, tmp_path):
    """A publisher or vacuum that crashes INSIDE the manifest swap dies
    holding _versions.json.lock; the kernel drops the lock with the
    process, so the next publish or vacuum proceeds instead of waiting
    on it."""
    from mapreduce_google_spark.io import vacuum_snapshots, versioned_write
    from tests.lock_holders import killed_holder

    root = str(tmp_path / "store")
    lock = os.path.join(root, "_versions.json.lock")
    versioned_write(spark.range(3).selectExpr("id AS n"), root)
    killed_holder(lock)
    assert versioned_write(spark.range(5).selectExpr("id AS n"), root) == 2
    assert list_versions(root) == [1, 2]
    killed_holder(lock)
    assert vacuum_snapshots(root, keep_last=1) == {"dropped": [1], "orphans": []}
    assert list_versions(root) == [2]
