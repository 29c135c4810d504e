"""Source/sink coverage: round-trips across formats, partitioned writes
with pruning, bucketed join without exchange, reference text-dir surface."""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from mapreduce_google_spark.io import (
    load_table,
    read_kv_text_dir,
    read_source,
    read_text_dir,
    write_sink,
    write_text_dir,
)
from mapreduce_google_spark.plans import formatted_plan


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_format_round_trips(spark, sf_dir, tmp_path):
    src = _docs(spark, sf_dir).orderBy("doc_id")
    want = [tuple(r) for r in src.collect()]
    for fmt in ("parquet", "csv", "json", "orc"):
        path = str(tmp_path / fmt)
        write_sink(src, fmt, path)
        got_df = read_source(spark, fmt, path, schema=src.schema)
        got = [tuple(r) for r in got_df.orderBy("doc_id").collect()]
        assert got == want, f"{fmt} round-trip mismatch"


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    path = str(tmp_path / "by_lang")
    write_sink(_docs(spark, sf_dir), "parquet", path, partition_by=["lang"])
    # hive-style layout on disk
    assert any(d.startswith("lang=") for d in os.listdir(path))
    df = read_source(spark, "parquet", path).where(F.col("lang") == "de")
    plan = formatted_plan(df)
    # partition filter must appear as PartitionFilters on the scan, and the
    # scan must select only the matching directory
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key removes the shuffle: the
    sort-merge join reads pre-bucketed files directly."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name, df, key in (("b_orders", orders, "o_custkey"), ("b_customer", customer, "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # a crashed prior run can leave the location without the catalog entry
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(name)
    joined = (
        spark.table("b_orders")
        .join(spark.table("b_customer"), F.col("o_custkey") == F.col("c_custkey"))
        .where(~F.col("o_custkey").isNull())
    )
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_text_dir_and_kv_surface(spark, tmp_path):
    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("k1\tv1\nk2\tv2a\tv2b\n\nnokey\n")
    lines = read_text_dir(spark, str(d))
    assert lines.count() == 4
    kv = {r.key: r.value for r in read_kv_text_dir(spark, str(d)).collect()}
    # key = before FIRST tab; value keeps later tabs; empty line → empty key
    assert kv == {"k1": "v1", "k2": "v2a\tv2b", "": "", "nokey": ""}
    out = tmp_path / "out"
    write_text_dir(lines, str(out), num_files=2)
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 2


def test_json_dead_letter_split(spark, tmp_path):
    """Corrupt JSON lines must route to the dead-letter side verbatim
    while clean rows parse — one scan, no job failure."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mapreduce_google_spark.io import read_json_with_dead_letters

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{not json at all}\n"
        '{"id": 2, "name": "fine"}\n'
        '{"id": "not-a-number-but-valid-json", "name": "typed-null"}\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    good, dead = read_json_with_dead_letters(spark, str(p), schema)
    good_rows = {(r.id, r.name) for r in good.collect()}
    assert good_rows == {(1, "ok"), (2, "fine")}
    # both the syntactically broken line AND the type-mismatch record are
    # quarantined verbatim (PERMISSIVE marks any unparseable record)
    dead_rows = sorted(r.raw_record for r in dead.collect())
    assert dead_rows == [
        '{"id": "not-a-number-but-valid-json", "name": "typed-null"}',
        "{not json at all}",
    ]
    assert "_corrupt_record" not in good.columns


def test_parquet_schema_evolution_merges(spark, tmp_path):
    """Files written before and after a column was added must read as one
    table with old rows null-filled."""
    from mapreduce_google_spark.io import read_parquet_evolved

    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(base)
    spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    ).write.mode("append").parquet(base)
    merged = read_parquet_evolved(spark, base)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {(r.id, r.name, r.score) for r in merged.collect()}
    assert rows == {(1, "a", None), (2, "b", 0.5)}


def test_read_text_dir_num_mappers(spark, tmp_path):
    """F2 parity: exact map-task-count control (reference
    manager/__main__.py:330-334 round-robins files into N tasks; here
    the scan partitions are coalesced — grouped, not shuffled — to N)."""
    from mapreduce_google_spark.io import read_text_dir

    d = tmp_path / "txt"
    d.mkdir()
    for i in range(6):
        (d / f"f{i}.txt").write_text(f"line{i}\n" * 50)
    df = read_text_dir(spark, str(d), num_mappers=2)
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 300
    # default path unchanged: Spark decides
    assert read_text_dir(spark, str(d)).count() == 300


def test_cache_tag_fingerprints_source(spark, tmp_path):
    """Derivation cache keys must change when the source is regenerated at the
    SAME path (stale-cache bug class) and differ across same-basename
    dirs (collision bug class)."""
    import shutil
    import time

    from mapreduce_google_spark.io import cache_tag

    a = tmp_path / "x" / "sf0.01"
    b = tmp_path / "y" / "sf0.01"
    for d in (a, b):
        d.mkdir(parents=True)
        spark.range(5).write.parquet(str(d / "documents.parquet"))
    t_a, t_b = cache_tag(str(a), "documents"), cache_tag(str(b), "documents")
    assert t_a != t_b  # same basename, different dirs

    time.sleep(0.05)
    shutil.rmtree(a / "documents.parquet")
    spark.range(6).write.parquet(str(a / "documents.parquet"))
    assert cache_tag(str(a), "documents") != t_a  # regen invalidates


def test_dynamic_partition_overwrite_backfill(spark, sf_dir, tmp_path):
    """Backfill correctness: with partitionOverwriteMode=dynamic, an
    overwrite write that contains only SOME day-partitions must replace
    exactly those partitions and leave every other day untouched — the
    daily-job catchup pattern; static mode would wipe the whole table."""
    from pyspark.sql import functions as F

    from mapreduce_google_spark.io import load_table

    out = str(tmp_path / "daily")
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    daily.write.partitionBy("day").mode("overwrite").parquet(out)
    before = {r["day"]: r["n"] for r in spark.read.parquet(out).collect()}
    some_days = sorted(before)[:3]
    patch = spark.createDataFrame(
        [(d, -1) for d in some_days], "day string, n long"
    )
    with_conf = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        if with_conf is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", with_conf)
    after = {r["day"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert set(after) == set(before)
    for d, n in after.items():
        assert n == (-1 if d in some_days else before[d]), d


def test_targeted_user_purge_rewrite(spark, sf_dir, tmp_path):
    """Compliance purge: remove a deterministic user set from a stored
    events table by anti-join rewrite; purged users are gone, everyone
    else's rows are untouched (count-preserving minus the purge set)."""
    from pyspark.sql import functions as F

    from mapreduce_google_spark.io import load_table

    store = str(tmp_path / "events_store")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(store)
    purge = ev.select("user_id").distinct().where(F.col("user_id") % 7 == 0)
    n_purged_rows = ev.join(purge, "user_id", "left_semi").count()
    total = ev.count()
    kept = spark.read.parquet(store).join(purge, "user_id", "left_anti")
    out = str(tmp_path / "events_clean")
    kept.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == total - n_purged_rows
    assert back.where(F.col("user_id") % 7 == 0).count() == 0


def test_bucketed_table_identity_includes_bucket_cols(spark, tmp_path):
    """adopt_or_build_bucketed_table: the FULL bucket spec — count AND
    columns — is part of the table/path identity, so files bucketed by
    old columns are never adopted under CLUSTERED BY (new columns) —
    bucket ids on disk cannot reveal which column hashed them, and a
    wrong adoption silently mis-routes co-located joins (review r12)."""
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )

    base = str(tmp_path / "bt")

    def build():
        return spark.range(100).selectExpr("id AS a", "id % 7 AS b")

    name_a = adopt_or_build_bucketed_table(
        spark, "mgs_test_ident", base, ["a"], 4, build
    )
    name_b = adopt_or_build_bucketed_table(
        spark, "mgs_test_ident", base, ["b"], 4, build
    )
    assert name_a != name_b  # different cols → different identity
    assert name_a.endswith(bucket_table_suffix(4, ["a"]))
    assert name_b.endswith(bucket_table_suffix(4, ["b"]))
    # ADVICE r12: specs colliding under plain '_'.join must NOT collide
    # — '_' is legal inside identifiers, the spec hash disambiguates
    assert bucket_table_suffix(8, ["a", "b_c"]) != bucket_table_suffix(
        8, ["a_b", "c"]
    )
    # both are genuinely bucketed by their own column (no cross-adoption)
    for name, col in ((name_a, "a"), (name_b, "b")):
        row = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        desc = {r.col_name: r.data_type for r in row}
        assert desc.get("Bucket Columns") == f"[`{col}`]", (name, desc)
    for name in (name_a, name_b):
        spark.sql(f"DROP TABLE {name}")


def test_store_buckets_default_to_session_parallelism(spark, sf_dir):
    """A store builder called without a count sizes its buckets to the
    session's defaultParallelism — one wave of tasks per store scan —
    and stamps that count into its path suffix, its sidecar and its
    bucket file ids."""
    import json

    from mapreduce_google_spark.io import (
        _BUCKET_FILE_RE,
        bucket_table_suffix,
        bucketed_fact_table,
        shared_store_path,
    )

    n = spark.sparkContext.defaultParallelism
    name = bucketed_fact_table(spark, sf_dir, "orders", "o_custkey")
    assert name.endswith(bucket_table_suffix(n, ["o_custkey"]))
    path = shared_store_path(name)
    with open(os.path.join(path, "_BUCKET_SPEC.json")) as fh:
        assert json.load(fh)["num_buckets"] == n
    ids = [
        int(m.group(1))
        for m in map(_BUCKET_FILE_RE.search, os.listdir(path))
        if m is not None
    ]
    assert ids and max(ids) < n


def test_store_bucket_count_is_fixed_per_spark_context(spark, tmp_path, monkeypatch):
    """The count is read once per SparkContext and then held: a
    cluster's defaultParallelism grows as executors register, and a
    later store of another count would lose co-location with the
    earlier ones."""
    from mapreduce_google_spark import io as mio

    sc = spark.sparkContext
    assert mio.store_bucket_count(spark) == sc.defaultParallelism
    monkeypatch.setattr(mio, "_STORE_BUCKETS", {(sc.applicationId, 3)})
    assert mio.store_bucket_count(spark) == 3
    df = spark.range(20).withColumnRenamed("id", "k")
    name = mio.adopt_or_build_bucketed_table(
        spark, "mgs_test_memo", str(tmp_path / "memo"), ["k"], None, lambda: df
    )
    try:
        assert name.endswith(mio.bucket_table_suffix(3, ["k"]))
        assert spark.table(name).count() == 20
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_build_lock_serializes_and_breaks_dead_holders(
    spark, tmp_path, monkeypatch
):
    """adopt_or_build_bucketed_table builds through io.write_once, under
    io.exclusive on {path}.lock (the r8 shared-cache rule: one writer
    per store). A killed holder never blocks the next build; a LIVE
    holder in another process makes the call fail after
    io.STORE_BUILD_WAIT_S instead of corrupting the winner's commit;
    concurrent threads produce exactly one build that everyone adopts."""
    import threading

    import pytest

    from mapreduce_google_spark import io as mio
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )
    from tests.lock_holders import killed_holder, live_holder

    monkeypatch.setattr(mio, "STORE_BUILD_WAIT_S", 0.5)
    df = spark.range(60).selectExpr("id", "id % 5 AS k")

    # 1. killed holder → its lock died with it, build proceeds at once
    base = str(tmp_path / "locked")
    path = base + bucket_table_suffix(4, ["k"])
    killed_holder(path + ".lock")
    n1 = adopt_or_build_bucketed_table(
        spark, "mgs_test_lock_a", base, ["k"], 4, lambda: df
    )
    assert spark.table(n1).count() == 60

    # 2. live holder in another process → bounded failure, no write
    base2 = str(tmp_path / "held")
    path2 = base2 + bucket_table_suffix(4, ["k"])
    with live_holder(path2 + ".lock"):
        with pytest.raises(TimeoutError, match="held by another writer"):
            adopt_or_build_bucketed_table(
                spark, "mgs_test_lock_b", base2, ["k"], 4, lambda: df
            )
    assert not os.path.exists(path2)

    # 3. concurrent callers: one build, every caller adopts the same table
    base3 = str(tmp_path / "race")
    results, errors, builds = [], [], []

    def build():
        builds.append(1)
        return df

    def worker():
        try:
            results.append(
                adopt_or_build_bucketed_table(
                    spark, "mgs_test_lock_c", base3, ["k"], 4, build
                )
            )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(set(results)) == 1 and len(results) == 4
    assert len(builds) == 1
    assert spark.table(results[0]).count() == 60
    for n in {n1, results[0]}:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_store_build_killed_halfway_is_rebuilt_not_adopted(
    spark, tmp_path, monkeypatch
):
    """A builder SIGKILLed after writing part files and _SUCCESS but
    before write_once committed the store leaves a torn store. Its lock
    died with it, so the next call takes the lock at once (a
    STORE_BUILD_WAIT_S of 0.5 s would raise otherwise), refuses to
    adopt the torn files and rebuilds: right row count, the torn part
    files gone."""
    from mapreduce_google_spark import io as mio
    from mapreduce_google_spark.io import (
        _BUCKET_SPEC_FILE,
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )
    from tests.lock_holders import killed_holder

    monkeypatch.setattr(mio, "STORE_BUILD_WAIT_S", 0.5)
    df = spark.range(40).selectExpr("id", "id % 4 AS k")
    base = str(tmp_path / "torn")
    path = base + bucket_table_suffix(2, ["k"])
    os.makedirs(path)
    torn = [
        os.path.join(path, f"part-00000-torn_0000{b}.c000.snappy.parquet")
        for b in (0, 1)
    ]
    killed_holder(path + ".lock", *torn, os.path.join(path, "_SUCCESS"))
    assert all(os.path.exists(f) for f in torn)
    assert not os.path.exists(os.path.join(path, _BUCKET_SPEC_FILE))

    name = adopt_or_build_bucketed_table(
        spark, "mgs_test_torn", base, ["k"], 2, lambda: df
    )
    try:
        assert spark.table(name).count() == 40
        assert not any(os.path.exists(f) for f in torn)
        assert os.path.exists(os.path.join(path, _BUCKET_SPEC_FILE))
        assert glob.glob(os.path.join(path, "part-*"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_write_once_runs_one_writer_across_processes(tmp_path):
    """Two processes calling io.write_once on one staging path: the
    second waits on {path}.lock, sees the first one's commit and
    skips its writer, so the writer runs exactly once and both callers
    return the same path. No JVM: the writer is plain Python."""
    import multiprocessing

    from tests.lock_holders import write_once_slowly

    ctx = multiprocessing.get_context("spawn")
    path, log = str(tmp_path / "staged"), str(tmp_path / "writers.log")
    start, out = ctx.Barrier(2), ctx.Queue()
    procs = [
        ctx.Process(target=write_once_slowly, args=(path, log, start, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    got = [out.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    assert [p.exitcode for p in procs] == [0, 0]
    assert got == [path, path]
    assert len(open(log).read().split()) == 1
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_write_once_commits_only_after_write_returns(spark, tmp_path):
    """A write that finishes a Spark write (so Spark's _SUCCESS exists)
    and then fails at a later step leaves the store uncommitted: the
    next io.write_once call runs its write again, from an empty path,
    and a committed store is never written again."""
    import pytest

    from mapreduce_google_spark.io import write_once

    path = str(tmp_path / "staged")
    calls = []

    def fails_after_spark_write(p: str) -> None:
        calls.append(p)
        spark.range(5).write.mode("overwrite").parquet(p)
        assert os.path.exists(os.path.join(p, "_SUCCESS"))
        raise RuntimeError("second step failed")

    def writes(p: str) -> None:
        calls.append(p)
        spark.range(7).write.parquet(p)  # mode error: needs an empty path

    with pytest.raises(RuntimeError, match="second step failed"):
        write_once(path, fails_after_spark_write)
    assert write_once(path, writes) == path
    assert len(calls) == 2
    assert spark.read.parquet(path).count() == 7
    assert write_once(path, fails_after_spark_write) == path  # committed
    assert len(calls) == 2


def test_committed_store_with_wrong_layout_is_never_adopted(spark, tmp_path):
    """A committed bucketed store whose sidecar names another spec, or
    whose part files carry no bucket id, is never adopted into a fresh
    catalog: the call raises, naming the path, and leaves the files as
    they are."""
    import json

    import pytest

    from mapreduce_google_spark.io import (
        _BUCKET_FILE_RE,
        _BUCKET_SPEC_FILE,
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )

    df = spark.range(40).selectExpr("id", "id % 4 AS k")
    base = str(tmp_path / "planted")
    path = base + bucket_table_suffix(4, ["k"])
    name = adopt_or_build_bucketed_table(
        spark, "mgs_test_planted", base, ["k"], 4, lambda: df
    )
    spark.sql(f"DROP TABLE {name}")  # fresh-session analog
    sidecar = os.path.join(path, _BUCKET_SPEC_FILE)
    good = open(sidecar).read()
    before = sorted(os.listdir(path))

    def refused() -> None:
        with pytest.raises(RuntimeError, match=re.escape(path)):
            adopt_or_build_bucketed_table(
                spark, "mgs_test_planted", base, ["k"], 4, lambda: df
            )
        assert not spark.catalog.tableExists(name)

    with open(sidecar, "w") as fh:  # a sidecar naming another count
        json.dump({**json.loads(good), "num_buckets": 8}, fh)
    refused()
    assert sorted(os.listdir(path)) == before

    with open(sidecar, "w") as fh:  # the right sidecar, unbucketed files
        fh.write(good)
    for f in os.listdir(path):
        m = _BUCKET_FILE_RE.search(f)
        if m is not None:
            os.rename(
                os.path.join(path, f),
                os.path.join(path, f.replace(f"_{m.group(1)}.", ".")),
            )
    refused()


def test_bucketed_fact_table_adopts_and_serves_colocated_join(spark, sf_dir):
    """io.bucketed_fact_table: full-width orderkey-bucketed copy, built
    once per corpus version and ADOPTED (not rebuilt) on re-request; a
    self-family join on the bucket key runs with zero exchange of the
    stores (the t12 default path's substrate)."""
    import glob
    import os

    from mapreduce_google_spark.io import bucketed_fact_table, load_table
    from mapreduce_google_spark.plans import formatted_plan

    name = bucketed_fact_table(spark, sf_dir, "orders", "o_orderkey")
    store = spark.table(name)
    src = load_table(spark, sf_dir, "orders")
    # full-width: every source column survives into the store
    assert set(store.columns) == set(src.columns)
    assert store.count() == src.count()

    loc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    path = next(
        r.data_type for r in loc if r.col_name == "Location"
    ).removeprefix("file:")
    before = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part-*")}
    spark.sql(f"DROP TABLE {name}")  # metadata only — files survive
    assert bucketed_fact_table(spark, sf_dir, "orders", "o_orderkey") == name
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part-*")}
    assert after == before, "re-request rewrote the store"

    li = spark.table(
        bucketed_fact_table(spark, sf_dir, "lineitem", "l_orderkey")
    )
    plan = formatted_plan(
        li.hint("merge").join(
            spark.table(name), li.l_orderkey == F.col("o_orderkey")
        )
    )
    assert "SortMergeJoin" in plan and "Exchange" not in plan, plan


def test_shared_store_root_is_per_user_0700(tmp_path, monkeypatch):
    """shared_store_root (ADVICE r13): stores adopted into DEFAULT query
    results live under a per-user 0700 directory — a predictable
    world-writable /tmp/{name} let any local user pre-plant an
    adoptable store into t09/t11/t12/t16/t45 results. The root is
    created 0700, a loosened mode is retightened, and a foreign-owned
    or symlinked entry is refused loudly."""
    import stat
    import tempfile

    import pytest

    from mapreduce_google_spark.io import shared_store_path, shared_store_root

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = shared_store_root()
    assert root == str(tmp_path / f"mgs-{os.getuid()}")
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700
    assert shared_store_path("x").startswith(root)

    os.chmod(root, 0o777)  # a loosened legacy root is retightened
    shared_store_root()
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700

    if os.getuid() == 0:  # foreign-owned root → refused
        os.chown(root, 12345, 12345)
        try:
            with pytest.raises(RuntimeError, match="owned by uid 12345"):
                shared_store_root()
        finally:
            os.chown(root, 0, 0)

    os.rmdir(root)  # a symlink planted at the root path → refused
    os.symlink(str(tmp_path), root)
    with pytest.raises(RuntimeError, match="not a directory"):
        shared_store_root()


def test_adopt_refuses_foreign_owned_store(spark, tmp_path):
    """adopt_or_build_bucketed_table never adopts a store directory
    owned by another uid (ADVICE r13): even with a valid sidecar and
    bucket-stamped files, a foreign-owned directory is cleared and
    rebuilt, not trusted into query results."""
    import pytest

    if os.getuid() != 0:
        pytest.skip("needs root to chown the planted store")

    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )

    df = spark.range(30).selectExpr("id", "id % 4 AS k")
    base = str(tmp_path / "owned")
    path = base + bucket_table_suffix(4, ["k"])
    name = adopt_or_build_bucketed_table(
        spark, "mgs_test_foreign_uid", base, ["k"], 4, lambda: df
    )
    spark.sql(f"DROP TABLE {name}")  # fresh-session analog
    before = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part-*")}
    os.chown(path, 12345, 12345)  # files stay root-owned; dir uid flips
    assert (
        adopt_or_build_bucketed_table(
            spark, "mgs_test_foreign_uid", base, ["k"], 4, lambda: df
        )
        == name
    )
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part-*")}
    assert after != before, "foreign-owned store was adopted, not rebuilt"
    assert os.stat(path).st_uid == 0
    assert spark.table(name).count() == 30
    spark.sql(f"DROP TABLE {name}")


def test_write_parquet_bloom_materializes_and_serves_lookups(spark, tmp_path):
    """Bloom-filtered parquet (io.write_parquet_bloom): the filter bytes
    must actually land in the files (pyarrow cannot read bloom metadata,
    so the assertion is the deterministic size delta on identical data —
    same rows, same encoding, only the filter differs), reads must be
    result-identical to the plain layout, and a guaranteed-miss point
    lookup must return empty without error. The wall-clock skip is
    measured by the bloom probe, not
    asserted here — timing bounds flake."""
    import glob
    import os

    from pyspark.sql import functions as F

    from mapreduce_google_spark.io import write_parquet_bloom

    df = spark.range(200_000).select(
        (F.xxhash64("id") % 1_000_000).alias("k"), F.col("id").alias("v")
    )
    plain, bloom = str(tmp_path / "plain"), str(tmp_path / "bloom")
    df.coalesce(2).write.parquet(plain)
    write_parquet_bloom(df.coalesce(2), bloom, {"k": 100_000})

    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f)
        for f in glob.glob(f"{p}/part-*")
        if not f.endswith(".crc")
    )
    assert size(bloom) > size(plain) * 1.02, (size(plain), size(bloom))

    a = sorted(tuple(r) for r in spark.read.parquet(plain).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(bloom).collect())
    assert a == b and len(a) == 200_000

    hit = df.limit(1).collect()[0].k
    assert (
        spark.read.parquet(bloom).where(F.col("k") == hit).count()
        == spark.read.parquet(plain).where(F.col("k") == hit).count()
        > 0
    )
    # xxhash64 % 1_000_000 is non-negative -> -5 cannot exist
    assert spark.read.parquet(bloom).where(F.col("k") == -5).count() == 0


def test_parquet_rows_matches_spark_path_filter_semantics(tmp_path):
    """io.parquet_rows (ADVICE r16): the footer-metadata row count must
    skip files Spark's reader ignores — basenames starting with '_' or
    '.' (e.g. _committed_* sidecars, hidden .part files) — so the count
    it feeds into bloom ndv sizing equals what a Spark scan of the same
    directory would count; and it must return None (never raise) when a
    listed data file has an unreadable footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_google_spark.io import parquet_rows

    d = tmp_path / "events.parquet"
    d.mkdir()
    tbl = pa.table({"event_id": list(range(7))})
    pq.write_table(tbl, d / "part-000.parquet")
    pq.write_table(tbl, d / "part-001.parquet")
    # files Spark ignores: must not inflate the count
    pq.write_table(tbl, d / "_committed_123.parquet")
    pq.write_table(tbl, d / ".hidden.parquet")
    (d / "_SUCCESS").write_text("")
    assert parquet_rows(str(tmp_path), "events") == 14
    # a corrupt DATA file → None (fall back to the safe form)
    (d / "part-002.parquet").write_bytes(b"not a parquet footer")
    assert parquet_rows(str(tmp_path), "events") is None
    # missing table → None
    assert parquet_rows(str(tmp_path), "nosuch") is None
