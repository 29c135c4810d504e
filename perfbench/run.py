#!/usr/bin/env python3
"""Benchmark of the engine: one command runs any workload by name.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed`` inside ``.perfbench_work/`` of the checkout, drives the engine
only through its public functions, checks every output, and prints one
JSON object as the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``END_TO_END``); ``--trace
1`` repeats the run with spans and Spark counters on and reports the
per-layer metrics (``PER_LAYER``). A detail line before the last one
carries every named workload metric with its tail percentile and sample
count. Workloads: ``query_mix`` and ``exec_jobs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.common import Run, peak_rss_mb  # noqa: E402
from perfbench.trace import STAGE_FIELDS, Tracer  # noqa: E402

WORKLOADS = ("query_mix", "exec_jobs")
#: JVM heap of every run, pinned so the host's free memory cannot change
#: the runtime between runs.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

#: The registry's headline queries that ``query_mix`` runs.
HEADLINERS = (
    "t01_word_count",
    "t02_grep",
    "t07_filter_agg_revenue",
    "t08_pricing_summary",
    "t09_revenue_per_region",
    "t11_top_orders_per_customer",
    "t15_tumbling_window",
    "t16_session_window",
    "t17_exact_dedup",
    "t18_cosine_topk",
    "t19_text_stats",
    "t25_ivf_topk",
    "t33_asof_latest_order",
    "t45_event_pairs_within_minute",
)

PER_LAYER = {
    "session.get_spark_s": "s",
    # the one JVM hosts every executor in local mode; its peak varies with
    # the collector's heap sizing, too much for an end-to-end bound
    "session.peak_rss_mb": "MB",
    "io.table_warm_s": "s",
    "io.store_build_s": "s",
    "io.store_adopt_s": "s",
    "io.store_bytes_per_input_byte": "ratio",
    "io.stray_cache_dirs": "count",
    "io.unsorted_part_files": "count",
    "io.text_sink_stage_s": "s",
    "io.output_bytes_per_input_byte": "ratio",
    "queries.builder_s": "s",
    "queries.action_s": "s",
    **{f"query.{q}_s": "s" for q in HEADLINERS},
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.input_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.executor_run_s": "s",
    "operators.gc_s": "s",
    "operators.core_busy_share": "ratio",
    "pipe.map_stage_s": "s",
    "pipe.reduce_stage_s": "s",
    "pipe.subprocesses": "count",
    "cli.driver_overhead_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.backlog_files_max": "count",
    "streaming.generator_late_s": "s",
    "streaming.rows_dropped_by_watermark": "count",
    "trace.tracer_s": "s",
    **{f"trace.{m}": u for m, u in END_TO_END.items()},
    **{f"trace.overhead.{m}": "ratio" for m in END_TO_END},
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> dict:
    """Pin the runtime before the JVM starts; returns ``get_spark`` kwargs."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_CPUS": str(_cpus()),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        }
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR: the store root follows it
    java_opts = f"-Djava.security.manager=allow -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "app_name": "perfbench",
        "master": f"local[{_cpus()}]",
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": "file://" + os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
        },
    }


def _stray_cache_dirs() -> set[str]:
    """Program caches written to hard-coded ``/tmp`` paths."""
    try:
        return {e for e in os.listdir("/tmp") if e.startswith(("mgs_", "mgs-warehouse"))}
    except OSError:
        return set()


def _operator_layer(run: Run) -> None:
    """Stage counters of the timed operations, per operation."""
    spans = run.layer.pop("_op_spans", [])
    if not spans:
        return
    tot = Tracer.stage_totals(spans)
    n_ops = max(1, len(run.latencies))
    for k in STAGE_FIELDS:
        run.layer[f"operators.{k}"] = tot[k] / n_ops
    wall = sum(s.wall for s in spans)
    run.layer["operators.core_busy_share"] = tot["executor_run_s"] / (wall * _cpus())


def _end_to_end(run: Run) -> dict:
    import statistics

    return {
        "setup_s": statistics.median(run.setup_samples),
        "op_p50_s": statistics.median(run.latencies),
        "ops_per_s": run.ops_per_s,
    }


def _trace_overhead(run: Run) -> dict:
    """Share by which tracing worsened each end-to-end metric of this run:
    the metric as measured against the metric with the tracer's own time
    inside each timed interval taken out."""
    import statistics

    def share(total: float, traced: float) -> float:
        return traced / (total - traced)

    p50 = statistics.median(run.latencies)
    bare_p50 = statistics.median(lat - t for lat, t in zip(run.latencies, run.op_trace_s))
    return {
        "trace.overhead.setup_s": share(statistics.median(run.setup_samples), run.setup_trace_s),
        "trace.overhead.op_p50_s": share(p50, p50 - bare_p50),
        "trace.overhead.ops_per_s": share(run.measured_s, run.measured_trace_s),
    }


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def execute(args) -> tuple[Run, dict]:
    """Run one workload; returns the run and its metric dict."""
    if not os.path.isfile(os.path.join(ROOT, "mapreduce_google_spark", "__init__.py")):
        raise SystemExit(f"engine package not found under {ROOT}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark_conf = _prepare_env(work)

    from mapreduce_google_spark.session import get_spark

    run = Run(
        workload=args.workload,
        seed=args.seed,
        seconds=float(args.seconds),
        tracer=Tracer(bool(args.trace)),
        work=work,
        scale=args.scale,
        inject_error=args.inject_error,
    )
    stray_before = _stray_cache_dirs() if args.trace else set()
    try:
        if args.workload == "query_mix":
            from perfbench.query_mix import run_query_mix as fn
        else:
            from perfbench.exec_jobs import run_exec_jobs as fn
        fn(run, get_spark, spark_conf)
        jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
        run.layer["session.peak_rss_mb"] = peak_rss_mb(jvm_pid)
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = _end_to_end(run)
    if not args.trace:
        return run, {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    run.layer["io.stray_cache_dirs"] = len(_stray_cache_dirs() - stray_before)
    run.layer["trace.tracer_s"] = run.tracer.self_s
    _operator_layer(run)
    for m, v in e2e.items():
        run.layer[f"trace.{m}"] = v
    run.layer.update(_trace_overhead(run))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    run.tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    metrics = {
        k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()
    }
    return run, metrics


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    p.add_argument("--inject-error", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    run, metrics = execute(args)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "error_rate": run.failed / max(1, run.attempted),
        "peak_rss_mb": run.layer.get("session.peak_rss_mb"),
        "failures": run.failures[:10],
        "total_s": time.perf_counter() - t0,
        **{k: v for k, v in run.extra.items() if not isinstance(v, list)},
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
