"""SparkSession factory.

The reference engine hand-rolls its runtime: a Manager process schedules
tasks over TCP and Workers heartbeat over UDP (reference
``mapreduce/manager/__main__.py:36-47``, ``mapreduce/worker/__main__.py:128-141``).
Spark's driver/executor model provides all of that (scheduling, shuffle,
heartbeats, retry, speculative execution), so the only engine-level code we
need is a session factory with scale-appropriate defaults.

Defaults are chosen for correctness-determinism locally AND sane behavior on
a large cluster:

* UTC session timezone — deterministic timestamp semantics vs the oracle.
* AQE on (+ coalesce + skew join) — runtime re-planning is the main lever
  that keeps a static plan viable at 100 TB (partition coalescing after
  filters, skew-join splitting for hot keys).
* ``spark.sql.shuffle.partitions`` defaults to 2× local cores, at least
  8; on a real cluster this should be ~2-3× total executor cores — AQE
  coalesces down, so erring high is safe.
* Arrow enabled — every Python-side exchange (Pandas UDF, toPandas) is
  batched, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

from mapreduce_google_spark.io import shared_store_path


def _host_cpus() -> int:
    """CPUs this process may run on (``sched_getaffinity`` is Linux
    only; elsewhere, the machine's CPU count)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _default_master() -> str:
    """``local[SPARK_GRAFT_CPUS]``, else one thread per CPU this process
    may run on — the session's parallelism, which also sizes every
    shared store's buckets (``io.store_bucket_count``)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus()
    return f"local[{cpus}]"


def _default_shuffle_partitions(master: str) -> int:
    """2× the thread count of a ``local[N]`` master, at least 8: headroom
    for skew, which AQE coalesces back. ``local[*]`` and a master that
    names no thread count count the CPUs this process may run on."""
    try:
        n = master.split("[", 1)[1].rstrip("]")
        cores = _host_cpus() if n == "*" else int(n)
    except (IndexError, ValueError):
        cores = _host_cpus()
    return max(cores * 2, 8)


def _ensure_driver_memory() -> None:
    """Pin local-mode driver heap BEFORE the JVM launches.

    In local mode the driver JVM hosts every executor thread, all cache
    blocks, and every broadcast build, but builder ``.config()`` values
    arrive after py4j has already launched the JVM — so
    ``spark.driver.memory`` set there is silently ignored and the heap
    stays at spark-submit's 1g default. That is invisible at sf0.01
    and OOMs the first ≥64 MB broadcast build at sf1 ("Not enough
    memory to build and broadcast the table"). The only pre-JVM channel
    from Python is ``PYSPARK_SUBMIT_ARGS``; respect it if the caller
    already set one. On a real cluster this knob is spark-submit's
    ``--driver-memory`` / ``--executor-memory`` and this function is a
    no-op (the JVM is up long before user code runs).
    """
    if "PYSPARK_SUBMIT_ARGS" in os.environ:
        return
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"


def _default_driver_mem() -> str:
    """min(24g, ~70% of MemAvailable): a host-blind 24g default lets the
    JVM commit past physical memory on smaller machines and get
    OOM-killed mid-job instead of failing fast at allocation time.
    Floor of 2g keeps tiny CI hosts above spark-submit's 1g default
    (which OOMs broadcast builds at ~sf1). SPARK_GRAFT_DRIVER_MEM
    overrides unconditionally."""
    avail_gb = None
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) / 1048576  # kB → GiB
                    break
    except OSError:
        pass
    if avail_gb is None:
        return "24g"
    return f"{max(2, min(24, int(avail_gb * 0.7)))}g"


def get_spark(
    app_name: str = "mapreduce_google_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Any explicitly-passed ``extra_conf`` wins over the defaults, so callers
    (tests, bench, CLI) can override without editing this file.
    """
    master = master or _default_master()
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(master)

    conf: dict[str, str] = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # coalesce by target size, not input parallelism: with
        # parallelismFirst=true (default) AQE deliberately produces many
        # tiny tasks; per-task overhead then dominates small/medium
        # shuffles. Size-based coalescing is also the sane cluster default.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Parquet scan behavior: pushdown + pruning are the free wins that
        # matter most at 100 TB; both default on, pinned here as contract.
        "spark.sql.parquet.filterPushdown": "true",
        # events.parquet carries TIMESTAMP(NANOS); Spark's reader rejects it
        # unless nanos are surfaced as long — io.load_table converts back to
        # a microsecond timestamp (matching DuckDB's µs truncation).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # Keep partition sizes bounded so a 100 TB scan yields ~800k tasks
        # of ~128 MB rather than a few giant ones.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # the warehouse lives under the store root with everything else the
        # engine writes, never in the working directory; bucketing
        # pruning/reading on by default, pinned as contract
        "spark.sql.warehouse.dir": pathlib.Path(shared_store_path("warehouse")).as_uri(),
        "spark.sql.sources.bucketing.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Djava.security.manager=allow",
        "spark.executor.extraJavaOptions": "-Djava.security.manager=allow",
    }
    if extra_conf:
        conf.update(extra_conf)

    _ensure_driver_memory()
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
