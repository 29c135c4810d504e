"""Exec-surface tests: the pipe operator's partitioning parity and the
CLI's reference-style job end-to-end on a text directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from mapreduce_google_spark.operators.pipe import ASSETS, md5_partition

#: ``key value`` input lines → ``key\tvalue`` mapper output
IDENTITY_MAPPER = """
import sys
sys.stdin.reconfigure(encoding="utf-8")
sys.stdout.reconfigure(encoding="utf-8")
for line in sys.stdin:
    key, _, value = line.rstrip("\\n").partition(" ")
    print(f"{key}\\t{value}")
"""


def _command(tmp_path, name: str, body: str) -> str:
    """A Python executable written to ``tmp_path``, as a command line."""
    path = tmp_path / f"{name}.py"
    path.write_text(body, encoding="utf-8")
    return f"{sys.executable} {path}"


def _parts(out_dir) -> dict[str, list[str]]:
    """Part file name → its lines."""
    return {
        p.name: p.read_text(encoding="utf-8").splitlines()
        for p in sorted(out_dir.iterdir())
        if p.name.startswith("part-")
    }


def _exec_job(input_dir, out_dir, mapper: str, reducer: str, num_reducers: int) -> dict:
    return {
        "type": "exec",
        "input": str(input_dir),
        "output": str(out_dir),
        "mapper": mapper,
        "reducer": reducer,
        "num_reducers": num_reducers,
    }


def test_md5_partition_matches_reference_semantics(spark):
    """``md5_partition`` is the reference's partition function, and
    ``md5_bucket``, the SQL expression that places pipe output, agrees
    with it for power-of-two and other moduli."""
    import hashlib

    from mapreduce_google_spark.functions.hashing import md5_bucket

    keys = ["the", "", "spark", "Ünïcôde", "a\tb", "x" * 300]
    for key in keys:
        for n in (1, 4, 8):
            assert md5_partition(key, n) == int(
                hashlib.md5(key.encode()).hexdigest(), 16
            ) % n
    ns = (1, 3, 4, 7, 8)
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    rows = df.select("key", *[md5_bucket("key", n).alias(f"b{n}") for n in ns]).collect()
    assert len(rows) == len(keys)
    for row in rows:
        assert [row[f"b{n}"] for n in ns] == [md5_partition(row["key"], n) for n in ns], row


def test_exec_part_files_are_md5_placed_and_sorted(spark, tmp_path):
    """The reference's output contract: one part file per reducer index,
    empty ones included; every line in the part of its key's md5 bucket;
    each part sorted by whole line."""
    from mapreduce_google_spark.cli import run_batch

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    lines = [f"{k} {v}" for v in ("9", "1", "b", "10", "a") for k in ("Ünïcôde", "alpha")]
    (input_dir / "a.txt").write_text("\n".join(lines[:5]) + "\n", encoding="utf-8")
    (input_dir / "b.txt").write_text("\n".join(lines[5:]) + "\n", encoding="utf-8")
    out_dir = tmp_path / "out"
    mapper = _command(tmp_path, "mapper", IDENTITY_MAPPER)
    job = _exec_job(input_dir, out_dir, mapper, "cat", num_reducers=8)
    [status] = run_batch(spark, [job])
    assert status["ok"], status

    parts = _parts(out_dir)
    assert sorted(int(name[5:10]) for name in parts) == list(range(8)), sorted(parts)
    got = []
    for name, part in parts.items():
        index = int(name[5:10])
        for line in part:
            assert md5_partition(line.partition("\t")[0], 8) == index, (name, line)
        assert part == sorted(part), name
        got += part
    assert sorted(got) == sorted(ln.replace(" ", "\t", 1) for ln in lines)


def test_exec_reducer_output_is_written_verbatim(spark, tmp_path):
    """A reducer line with no TAB is written as it is (not ``foo\\t``),
    and non-ASCII text crosses both pipes as UTF-8."""
    from mapreduce_google_spark.cli import run_batch

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.txt").write_text("foo 1\nÜnïcôde ß\n", encoding="utf-8")
    reducer = _command(tmp_path, "reducer", """
import sys
sys.stdin.reconfigure(encoding="utf-8")
sys.stdout.reconfigure(encoding="utf-8")
for line in sys.stdin:
    key, _, value = line.rstrip("\\n").partition("\\t")
    print(key)
    print(f"{key}\\t{value}\\tÿ")
""")
    out_dir = tmp_path / "out"
    mapper = _command(tmp_path, "mapper", IDENTITY_MAPPER)
    [status] = run_batch(spark, [_exec_job(input_dir, out_dir, mapper, reducer, 2)])
    assert status["ok"], status
    got = sorted(ln for part in _parts(out_dir).values() for ln in part)
    assert got == sorted(["foo", "foo\t1\tÿ", "Ünïcôde", "Ünïcôde\tß\tÿ"])


def test_exec_failing_mapper_fails_its_job(spark, tmp_path):
    """A mapper that exits non-zero fails its job, and the status names
    the exit status rather than carrying a stack trace."""
    from mapreduce_google_spark.cli import run_batch

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.txt").write_text("one line\nanother line\n")
    mapper = _command(tmp_path, "mapper", """
import sys
for line in sys.stdin:
    print(line.split()[0] + "\\t1")
sys.exit(3)
""")
    job = _exec_job(input_dir, tmp_path / "out", mapper, "cat", num_reducers=2)
    [status] = run_batch(spark, [job])
    assert status["ok"] is False, status
    assert "exited with status 3" in status["error"], status
    assert status["error"].startswith("java.lang.IllegalStateException: "), status
    assert "\n" not in status["error"]


def test_exec_batch_parallel_jobs(spark, tmp_path):
    """Two exec jobs run at once from driver threads
    (``run_batch(parallel=2)``) and both outputs are correct."""
    from mapreduce_google_spark.cli import run_batch

    texts = {"x": "a b a\nc a\n", "y": "Ünïcôde b\nb b\n"}
    jobs = []
    for name, text in texts.items():
        (tmp_path / name).mkdir()
        (tmp_path / name / "in.txt").write_text(text, encoding="utf-8")
        jobs.append(_exec_job(
            tmp_path / name,
            tmp_path / f"out-{name}",
            f"{sys.executable} {ASSETS}/wc_mapper.py",
            f"{sys.executable} {ASSETS}/wc_reducer.py",
            num_reducers=3,
        ))
    statuses = run_batch(spark, jobs, parallel=2)
    assert all(s["ok"] for s in statuses), statuses
    for name, text in texts.items():
        counts = {}
        for tok in text.lower().split():
            counts[tok] = counts.get(tok, 0) + 1
        parts = _parts(tmp_path / f"out-{name}")
        assert len(parts) == 3
        got = dict(ln.split("\t") for part in parts.values() for ln in part)
        assert got == {k: str(v) for k, v in counts.items()}


def test_cli_exec_executables_inherit_the_environment(tmp_path):
    """An executable sees the environment of the process that runs it,
    as the reference's ``Popen`` does: a variable set for the driver
    reaches the mapper."""
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    (input_dir / "a.txt").write_text("k\n")
    mapper = _command(tmp_path, "mapper", """
import os, sys
for line in sys.stdin:
    print(line.strip() + "\\t" + os.environ.get("MGS_PIPE_ENV_PROBE", "<unset>"))
""")
    out_dir = tmp_path / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", MGS_PIPE_ENV_PROBE="from-driver")
    res = subprocess.run(
        [
            sys.executable, "-m", "mapreduce_google_spark.cli", "exec",
            "--input", str(input_dir), "--output", str(out_dir),
            "--mapper", mapper, "--reducer", "cat", "--num-reducers", "2",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = [ln for part in _parts(out_dir).values() for ln in part]
    assert got == ["k\tfrom-driver"]


def test_cli_exec_job(tmp_path):
    """Full reference job shape: text dir in, part-* files out, word counts
    correct — driven through the CLI in a fresh process."""
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    (input_dir / "a.txt").write_text("Hello world\nhello Spark\n")
    (input_dir / "b.txt").write_text("world world\n")
    out_dir = tmp_path / "out"

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreduce_google_spark.cli",
            "exec",
            "--input",
            str(input_dir),
            "--output",
            str(out_dir),
            "--mapper",
            f"{sys.executable} {ASSETS}/wc_mapper.py",
            "--reducer",
            f"{sys.executable} {ASSETS}/wc_reducer.py",
            "--num-reducers",
            "2",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    parts = sorted(p for p in os.listdir(out_dir) if p.startswith("part-"))
    assert parts, f"no part files in {out_dir}"
    lines = []
    for p in parts:
        with open(out_dir / p) as f:
            lines += [ln.rstrip("\n") for ln in f if ln.strip()]
    counts = dict(ln.split("\t") for ln in lines)
    assert counts == {"hello": "2", "world": "3", "spark": "1"}


def test_cli_batch_queue(tmp_path, sf_dir):
    """F10 parity: a JSONL job list runs FIFO through ONE session; a bad
    job is reported and the queue keeps serving (reference manager
    behavior: a failed job doesn't kill the service)."""
    import json

    jobs = tmp_path / "jobs.jsonl"
    jobs.write_text(
        "\n".join(
            json.dumps(j)
            for j in [
                {"type": "query", "name": "t05_distinct_tokens", "sf_dir": sf_dir},
                {"type": "query", "name": "t99_nope", "sf_dir": sf_dir},
                {
                    "type": "query",
                    "name": "t09_revenue_per_region",
                    "sf_dir": sf_dir,
                    "output": str(tmp_path / "t09_out"),
                },
            ]
        )
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "batch", "--jobs", str(jobs)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    statuses = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    assert [s["ok"] for s in statuses] == [True, False, True], res.stdout + res.stderr
    assert res.returncode == 1  # some job failed
    assert statuses[2]["rows"] == 5  # five regions, written as parquet
    assert (tmp_path / "t09_out" / "_SUCCESS").exists()


def test_batch_parallel_shares_one_session(spark, sf_dir):
    """--parallel path: concurrent jobs multiplex one SparkContext via
    thread-local scheduler pools; results match the serial path."""
    from mapreduce_google_spark.cli import run_batch

    jobs = [
        {"type": "query", "name": "t05_distinct_tokens", "sf_dir": sf_dir},
        {"type": "query", "name": "t09_revenue_per_region", "sf_dir": sf_dir},
        {"type": "query", "name": "t13_segment_set_ops", "sf_dir": sf_dir},
    ]
    serial = run_batch(spark, jobs, parallel=1)
    threaded = run_batch(spark, jobs, parallel=3)
    assert all(s["ok"] for s in serial + threaded)
    assert [s["rows"] for s in serial] == [s["rows"] for s in threaded]


def test_cli_explain(tmp_path):
    """The explain subcommand prints the formatted physical plan — the
    plan-inspection UX the reference never had."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "explain", "--name", "t07_filter_agg_revenue",
         "--sf-dir", "/root/testdata/sf0.001"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "PushedFilters" in res.stdout
    assert "HashAggregate" in res.stdout


def test_compact_run(spark, tmp_path, sf_dir):
    """_run_compact conserves rows and hits the exact target file count;
    the rewrite is coalesce-narrow (no shuffle)."""
    from mapreduce_google_spark.cli import _run_compact
    from mapreduce_google_spark.io import load_table

    small = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(16).write.parquet(small)
    summary = _run_compact(spark, input=small, output=out, target_files=2)
    assert summary["rows"] == docs.count()
    assert summary["files_in"] == 16
    assert summary["files_out"] <= 2
    # content survives byte-for-byte (exact sum over a key column)
    before = docs.agg({"doc_id": "sum"}).collect()[0][0]
    after = spark.read.parquet(out).agg({"doc_id": "sum"}).collect()[0][0]
    assert before == after


def test_compact_does_not_resurrect_dv_deleted_rows(spark, tmp_path):
    """Same class as upsert's r8 regression and r11's pruned-read gap:
    the compact verb rewrites the table, and the OUTPUT carries no
    _deletes sidecar — a raw read would bake deleted rows back in
    permanently. Compaction must read through the sidecar."""
    from mapreduce_google_spark.cli import _run_compact
    from mapreduce_google_spark.io import delete_where

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.range(1_000).selectExpr("id AS k", "id * 2 AS v").repartition(
        8
    ).write.parquet(src)
    assert delete_where(spark, src, F.col("k") % 10 == 3) == 100
    summary = _run_compact(spark, input=src, output=out, target_files=2)
    assert summary["rows"] == 900
    got = spark.read.parquet(out)
    assert got.count() == 900
    assert got.where(F.col("k") % 10 == 3).count() == 0


def test_compact_sizes_by_target_mb(spark, tmp_path, sf_dir):
    """Without --target-files the file count derives from total bytes /
    target-mb — a tiny input always compacts to one file."""
    from mapreduce_google_spark.cli import _run_compact
    from mapreduce_google_spark.io import load_table

    small = str(tmp_path / "small2")
    out = str(tmp_path / "compacted2")
    load_table(spark, sf_dir, "documents").repartition(8).write.parquet(small)
    summary = _run_compact(spark, input=small, output=out, target_mb=128)
    assert summary["files_out"] == 1


def test_cli_sql(tmp_path):
    """The sql subcommand runs ad-hoc SQL over the registered views —
    the ad-hoc surface the fixed registry doesn't cover."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "sql", "--query",
         "SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name",
         "--sf-dir", "/root/testdata/sf0.001"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "AFRICA" in res.stdout


def test_profile_run(spark, sf_dir):
    from mapreduce_google_spark.cli import _run_profile

    recs = _run_profile(spark, input=f"{sf_dir}/nation.parquet")
    by_col = {r["column"]: r for r in recs}
    assert by_col["n_nationkey"]["n_distinct"] == by_col["n_nationkey"]["n_rows"]
    assert by_col["n_regionkey"]["n_distinct"] == 5
    assert all(r["n_nulls"] == 0 for r in recs)


def test_profile_reads_through_deletion_vectors(spark, tmp_path):
    """A profile counting logically-deleted rows reports the wrong
    n_rows/min/max for every sizing decision downstream — the profile
    verb reads through the _deletes sidecar like the rewrite verbs."""
    from pyspark.sql import functions as F

    from mapreduce_google_spark.cli import _run_profile
    from mapreduce_google_spark.io import delete_where

    src = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS k").repartition(2).write.parquet(src)
    assert delete_where(spark, src, F.col("k") >= 90) == 10
    recs = _run_profile(spark, input=src)
    assert recs[0]["n_rows"] == 90
    assert recs[0]["max"] == "89"


def test_curate_writes_kept_corpus(spark, tmp_path, sf_dir):
    from mapreduce_google_spark.operators.textstats import curated_corpus

    out = str(tmp_path / "kept")
    expected = curated_corpus(spark, sf_dir)
    expected.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == expected.count() > 0
    assert set(back.columns) == {"doc_id", "source", "lang", "n_chars"}


def test_cli_status_probe(sf_dir):
    """F-daemon analog (reference bin/mapreduce status): the status
    subcommand launches the runtime, runs a liveness job, and reports a
    healthy JSON record with registry + data visibility."""
    import json as _json

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreduce_google_spark.cli",
            "status",
            "--sf-dir",
            sf_dir,
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = _json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["status"] == "up"
    assert rec["liveness_job_ok"] is True
    assert rec["registered_queries"] >= 223
    assert rec["missing_tables"] == []
    assert all(v for v in rec["tables_bytes"].values())


def test_cli_status_degraded_on_missing_tables(tmp_path):
    """status exits nonzero and reports the missing tables when the data
    directory is incomplete — the 'worker not running' analog."""
    import json as _json

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreduce_google_spark.cli",
            "status",
            "--sf-dir",
            str(tmp_path),
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        timeout=300,
    )
    assert res.returncode == 1
    rec = _json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["status"] == "degraded"
    assert len(rec["missing_tables"]) == 10


def test_cli_exec_empty_input(tmp_path):
    """Reference parity: a job over an empty input directory completes
    and writes an (empty) output dir rather than failing."""
    input_dir = tmp_path / "empty_in"
    input_dir.mkdir()
    out_dir = tmp_path / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreduce_google_spark.cli",
            "exec",
            "--input", str(input_dir),
            "--output", str(out_dir),
            "--mapper", f"{sys.executable} {ASSETS}/wc_mapper.py",
            "--reducer", f"{sys.executable} {ASSETS}/wc_reducer.py",
            "--num-reducers", "2",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert out_dir.exists()
    data_lines = []
    for p in out_dir.iterdir():
        if p.name.startswith("part-"):
            data_lines += [ln for ln in p.read_text().splitlines() if ln.strip()]
    assert data_lines == []


def test_cli_restart_recycles_session(sf_dir):
    """restart (reference bin/mapreduce restart analog) must tear down
    the running session, bring up a FRESH one (different app id), and
    report it healthy."""
    import json as _json

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreduce_google_spark.cli",
            "restart",
            "--sf-dir",
            sf_dir,
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = _json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["status"] == "up"
    assert rec["restarted"] is True
    assert rec["previous_app_id"] and rec["app_id"]
    assert rec["previous_app_id"] != rec["app_id"]


def test_cli_zorder_and_manifest(tmp_path, sf_dir):
    """The zorder verb rewrites a parquet dir clustered on the curve;
    the manifest verb then builds its zone-map table incrementally."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = str(tmp_path / "z")
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "zorder", "--input", os.path.join(sf_dir, "lineitem.parquet"),
         "--output", out, "--cols", "l_partkey,l_suppkey",
         "--bits", "8", "--files", "4"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["rows"] > 0 and rec["cols"] == ["l_partkey", "l_suppkey"]
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "manifest", "--input", out, "--cols", "l_partkey,l_suppkey"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["files"] == 4
    assert os.path.exists(os.path.join(out, "_manifest", "_SUCCESS"))


def test_cli_upsert_and_vacuum(tmp_path, spark, sf_dir):
    """The upsert verb merges a delta dir into a partitioned table and
    reports the touched partitions; the vacuum verb prunes a snapshot
    store."""
    from mapreduce_google_spark.io import versioned_write

    base = str(tmp_path / "t")
    delta = str(tmp_path / "d")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, p string, v double"
    ).write.partitionBy("p").parquet(base)
    spark.createDataFrame(
        [(2, "b", 9.0), (3, "b", 3.0)], "k int, p string, v double"
    ).write.parquet(delta)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "upsert", "--base", base, "--delta", delta,
         "--partition-col", "p", "--keys", "k"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["touched_partitions"] == ["b"]
    got = sorted((r["k"], r["v"]) for r in spark.read.parquet(base).collect())
    assert got == [(1, 1.0), (2, 9.0), (3, 3.0)]

    root = str(tmp_path / "snap")
    for n in (2, 4, 6):
        versioned_write(spark.range(n).selectExpr("id AS n"), root)
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "vacuum", "--root", root, "--keep-last", "1"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec == {"dropped": [1, 2], "orphans": []}


def test_cli_delete_and_apply(tmp_path, spark):
    """The delete verb marks rows via deletion vectors and --apply
    compacts them away physically."""
    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS k", "id % 5 AS g").repartition(
        2
    ).write.parquet(path)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "delete", "--input", path, "--where", "g = 2", "--apply"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["deleted"] == 20
    assert rec["compaction"]["dropped_rows"] == 20
    assert not os.path.exists(os.path.join(path, "_deletes"))
    assert spark.read.parquet(path).count() == 80


def test_cli_index_lookup_file(tmp_path):
    """The index verb's batched-lookup path: keys from a file (one per
    line, mixed parseable/garbage tokens), exact row count back; and
    --lookup/--lookup-file refuse to combine."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tbl = str(tmp_path / "tbl")
    kf = str(tmp_path / "keys.txt")

    build = subprocess.run(
        [sys.executable, "-c", f"""
import sys; sys.path.insert(0, {repo!r})
from mapreduce_google_spark.session import get_spark
from pyspark.sql import functions as F
s = get_spark(master="local[4]")
s.range(500).select(F.col("id").alias("k"), (F.col("id")*3).alias("v")) \\
 .repartition(4, "k").write.parquet({tbl!r})
"""],
        capture_output=True, text=True, timeout=300,
    )
    assert build.returncode == 0, build.stderr[-2000:]
    with open(kf, "w") as fh:
        fh.write("7\n42\nnot-a-key\n499\n9999\n")  # 3 hits, 1 garbage, 1 miss

    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "index", "--input", tbl, "--key", "k", "--lookup-file", kf],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["rows"] == 3  # 7, 42, 499 hit; 9999 misses; garbage coerced away
    assert rec["lookup_key_count"] == 5  # the CLI parsed all non-empty lines
    assert rec["lookup_mode"] == "list"  # under the DataFrame threshold
    # a batched file's key list stays out of the record (it can be huge);
    # lookup_keys (the pre-r10 list schema) is inline---lookup only
    assert "lookup_keys" not in rec

    both = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "index", "--input", tbl, "--key", "k",
         "--lookup", "7", "--lookup-file", kf],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert both.returncode != 0
    assert "mutually exclusive" in (both.stderr + both.stdout)


def test_cli_index_lookup_file_2m_keys_stays_off_driver(tmp_path):
    """VERDICT r10 item 7: a 2M-key --lookup-file must never
    materialize as a Python list — past CLI_LOOKUP_DF_THRESHOLD the CLI
    reads the file with spark.read.text and probes via the distributed
    semi-join path (point_lookup_df), reported as lookup_mode=dataframe.
    The no-driver-materialization guarantee is structural (the CLI
    streams at most THRESHOLD+1 lines before switching; the plan gate
    lives in tests/test_point_index.py); this test proves the whole
    path end-to-end at a size where the old list path was the wrong
    shape."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tbl = str(tmp_path / "tbl")
    kf = str(tmp_path / "keys2m.txt")

    build = subprocess.run(
        [sys.executable, "-c", f"""
import sys; sys.path.insert(0, {repo!r})
from mapreduce_google_spark.session import get_spark
from pyspark.sql import functions as F
s = get_spark(master="local[4]")
s.range(1000).select(F.col("id").alias("k"), (F.col("id")*3).alias("v")) \\
 .repartition(4, "k").write.parquet({tbl!r})
"""],
        capture_output=True, text=True, timeout=300,
    )
    assert build.returncode == 0, build.stderr[-2000:]
    with open(kf, "w") as fh:
        for i in range(2_000_000):
            fh.write(f"{i}\n")  # keys 0..999 hit, the rest miss
    res = subprocess.run(
        [sys.executable, "-m", "mapreduce_google_spark.cli",
         "index", "--input", tbl, "--key", "k", "--lookup-file", kf],
        capture_output=True, text=True, cwd=repo, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["lookup_mode"] == "dataframe"
    assert rec["lookup_key_count"] == 2_000_000
    assert rec["rows"] == 1000  # keys 0..999 all hit
    assert "lookup_keys" not in rec
