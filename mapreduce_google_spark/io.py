"""Sources and sinks.

The reference's only source is "directory of text files" (reference
``mapreduce/manager/__main__.py:320-327`` lists + sorts filenames) and its
only sink is "part-NNNNN files in an output directory" (reference
``mapreduce/worker/__main__.py:237-250``). Spark's DataFrameReader/Writer
generalize both; this module adds the star-schema loaders for the test
tables plus thin text-dir helpers that reproduce the reference surface.
"""

from __future__ import annotations

import contextlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Every table materialized by the driver (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_read_confs(spark: SparkSession) -> None:
    """Pin the session confs the loaders depend on, at runtime.

    Both are runtime-settable, so the loader works under ANY SparkSession —
    including externally constructed vanilla ones (the round-1 harness
    failure mode: six events-based queries threw PARQUET_TYPE_ILLEGAL
    because only ``session.get_spark`` set nanosAsLong at build time).

    - ``nanosAsLong``: events.parquet carries TIMESTAMP(NANOS), which
      vanilla Spark refuses; read it as long and convert below.
    - ``session.timeZone=UTC``: timestamp formatting/extraction queries
      (date_format, window) must not depend on the host's zone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` to a plain (LTZ) µs timestamp
    regardless of how the source was written, so every downstream operator
    (unix_micros, window, date_format) sees one type:

    - TIMESTAMP(NANOS) arrives as long under nanosAsLong; integer-divide
      (`/ 1000` in double would lose precision above 2^53 nanos).
    - TIMESTAMP_NTZ (µs, no zone) casts to LTZ; with the session zone
      pinned to UTC this is instant-preserving and matches DuckDB.

    Shared by the batch loader AND every streaming reader (including ones
    over :func:`derived_dir` stagings, which may hold either representation
    depending on which code version staged them).
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one star-schema table.

    Plain ``spark.read.parquet`` so Catalyst keeps full pushdown/pruning
    freedom — callers filter/select and the scan narrows itself.
    """
    _ensure_read_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def cache_tag(sf_dir: str, *names: str) -> str:
    """Stable key for cached derivations of source tables
    (:func:`derived_dir`).

    Combines the FULL absolute path with a fingerprint (file list + sizes
    + mtimes) of each named source table, so (a) two sf_dirs sharing a
    basename never collide and (b) regenerating a source at the same path
    invalidates the cache instead of silently serving stale results.
    """
    import hashlib

    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for name in names:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(p):
            for f in sorted(os.listdir(p)):
                st = os.stat(os.path.join(p, f))
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
        elif os.path.exists(p):
            st = os.stat(p)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    base = os.path.basename(os.path.abspath(sf_dir)).lower()
    import re

    base = re.sub(r"[^a-z0-9]+", "_", base)
    return f"{base}_{h.hexdigest()[:10]}"


def parquet_rows(sf_dir: str, *tables: str) -> int | None:
    """Combined row count from parquet FOOTER metadata — a driver-side
    file-metadata read (the same cost class as schema inference), never
    a Spark job; None when any table is missing (caller falls back to
    the small-data form, the safe default for unknown inputs).

    Lives here rather than in an operators module because it is generic
    parquet metadata, not relational logic (ADVICE r16 — its original
    home was next to a since-retired dispatcher in operators.relational).
    Skips files Spark's reader ignores (basenames starting with ``_`` or
    ``.``, e.g. ``_committed_*`` / hidden ``.part`` files) so the footer
    count matches the count() a Spark scan of the directory would return
    (ADVICE r16 — previously it could only OVERcount, harmlessly
    oversizing a bloom bitset, but a silent divergence from Spark's
    path-filter semantics is a trap for the next caller)."""
    import pyarrow.parquet as pq

    total = 0
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            if os.path.isdir(p):
                total += sum(
                    pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
                    for f in os.listdir(p)
                    if f.endswith(".parquet") and not f.startswith(("_", "."))
                )
            else:
                total += pq.ParquetFile(p).metadata.num_rows
        except (OSError, ValueError):
            # ValueError covers pyarrow's ArrowInvalid (its subclass) on
            # a corrupt/truncated footer — unknown input must mean "fall
            # back to the safe small-data form", never a crash
            # (ADVICE r13)
            return None
    return total


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the tables as temp views so ``spark.sql`` can use them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text_dir(
    spark: SparkSession, input_dir: str, num_mappers: int | None = None
) -> DataFrame:
    """Reference-compatible source: a directory of text files → lines.

    Mirrors reference F1 (``manager/__main__.py:320-327``): every regular
    file is input, one row per line, column ``value: string``. Spark's
    FileSourceScanExec handles listing, splitting and ordering; file
    grouping replaces the reference's round-robin `i % num_mappers` split
    (F2) with size-based bin-packing, which balances better at scale.

    ``num_mappers`` reproduces the reference's exact map-task-count
    control (``manager/__main__.py:330-334``): the scan's partitions are
    binned into exactly N map tasks via ``coalesce`` — a task-grouping
    operation like the reference's round-robin, not a shuffle. Leave it
    None (the default everywhere) to let Spark's bin-packing size the
    tasks; set it only when replaying reference task topology.
    """
    lines = spark.read.text(input_dir)
    if num_mappers is not None:
        lines = lines.coalesce(num_mappers)
    return lines


def read_kv_text_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """Reference intermediate format: ``key\\tvalue`` lines → 2 columns.

    The key is everything before the FIRST tab (reference
    ``worker/__main__.py:183`` — ``line.partition("\\t")[0]``); the value is
    the rest, possibly containing further tabs. Empty keys are data, not
    errors (reference ``tests/test_worker_08.py:249``).
    """
    lines = read_text_dir(spark, input_dir)
    return lines.select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1)).alias("key"),
        # value = remainder after first tab ('' when no tab present)
        F.when(
            F.instr("value", "\t") > 0,
            F.expr("substring(value, instr(value, '\t') + 1)"),
        )
        .otherwise(F.lit(""))
        .alias("value"),
    )


def write_text_dir(df: DataFrame, output_dir: str, num_files: int | None = None) -> None:
    """Reference-compatible sink (F9): ``part-*`` text files, overwrite.

    The reference deletes a pre-existing output dir before writing
    (``manager/__main__.py:345-355``); ``mode('overwrite')`` matches that.
    """
    if num_files is not None:
        # exact file count (reference num_reducers semantics) — repartition,
        # not coalesce: coalesce can only reduce the partition count
        df = df.repartition(num_files)
    df.write.mode("overwrite").text(output_dir)


#: a Spark part file's name: ``part-<partition index><rest>``
_PART_FILE = re.compile(r"part-(\d+)(.*)")


def write_part_files(df: DataFrame, output_dir: str, num_parts: int) -> None:
    """Reference reducer sink (F9): partition i of ``df``, ``num_parts``
    partitions in all, becomes the one file ``part-<i:05d>…``, overwrite.

    Spark writes no file for an empty partition other than the first, so
    the missing indices get an empty file after the commit: the reference
    leaves one output file per reducer, empty or not
    (``worker/__main__.py:237-250``). ``output_dir`` is a local path.
    """
    df.write.mode("overwrite").text(output_dir)
    found = [m for m in map(_PART_FILE.fullmatch, os.listdir(output_dir)) if m]
    have = {int(m.group(1)) for m in found}
    suffix = found[0].group(2) if found else ""
    for i in range(num_parts):
        if i not in have:
            open(os.path.join(output_dir, f"part-{i:05d}{suffix}"), "w").close()


def write_parquet(
    df: DataFrame,
    output_dir: str,
    partition_by: list[str] | None = None,
    bucket_table: str | None = None,
    bucket_cols: list[str] | None = None,
    num_buckets: int = 0,
) -> None:
    """Parquet sink with optional hive-style partitioning or bucketing.

    ``partition_by`` enables partition pruning for downstream readers;
    bucketing pre-shuffles on join keys so co-located joins skip the
    exchange entirely — the two levers that matter at 100 TB.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_table is not None and bucket_cols:
        writer.bucketBy(num_buckets, *bucket_cols).sortBy(*bucket_cols).option(
            "path", output_dir
        ).saveAsTable(bucket_table)
    else:
        writer.parquet(output_dir)


def write_parquet_bloom(
    df: DataFrame,
    output_dir: str,
    bloom_cols: dict[str, int],
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink with split-block BLOOM FILTERS on the given columns
    (``{column: expected_distinct_values}``) — the row-group-skipping
    layout for point/IN lookups on NON-sorted, NON-partitioned keys.

    Min/max zone maps (always written) only skip row groups when the
    key correlates with write order; a high-cardinality key written in
    arrival order has every row group spanning ~the full key range, so
    a point lookup scans everything. The bloom filter answers
    "definitely not in this row group" probabilistically regardless of
    layout. Measured (bloom probe,
    20M rows / 8 files): a MISS lookup's median saves ~12% wall and its
    MAX rep falls 2.1 s → 0.76 s (the tail is the full-decode case the
    bloom removes); in a fresh session with the page cache dropped the
    first-touch miss fell 6.9 s → 0.9 s. Local-mode medians UNDERSTATE
    the scale win — per-lookup cost here is dominated by fixed job
    overhead and a VM host cache this guest cannot drop, while at
    100 TB the skipped data-page IO is the entire cost: the bloom
    layout reads footers + bloom bytes only. Cost: ~4-21% extra file
    bytes depending on ndv vs row count.

    This was long assumed environment-blocked because pyarrow cannot
    WRITE bloom filters (VERDICT r7) — but this engine's sinks go
    through Spark's parquet-mr writer, which has supported them since
    parquet-mr 1.12 (``parquet.bloom.filter.enabled#col``), and Spark's
    vectorized reader consumes them transparently on pushed equality/IN
    predicates. ``expected_ndv`` sizes the bitset: undersizing inflates
    the false-positive rate (filter stops skipping), oversizing wastes
    the exact bytes the table scan then re-reads — size it per column
    from a cheap approx_count_distinct at build time.

    At 100 TB this layout belongs on lookup-serving fact copies (the
    point-lookup store family): one write-time flag turns a
    full-partition scan per miss into a footer-and-bloom read. Kept
    SEPARATE from :func:`write_parquet` deliberately — the bucketed
    store identity/fingerprint protocol hashes that function's source,
    and bloom enablement is a per-layout choice, not a global default.
    """
    writer = df.write.mode("overwrite")
    for col, ndv in bloom_cols.items():
        writer = writer.option(
            f"parquet.bloom.filter.enabled#{col}", "true"
        ).option(f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv)))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(output_dir)


#: bucket id a Spark bucketed writer stamps into each data file name
#: (``part-00000-<uuid>_00042.c000.snappy.parquet`` → bucket 42). Plain
#: (non-bucketed) writes have no ``_NNNNN`` segment, which is exactly
#: what the adoption guard below keys on.
_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.c\d{3}(?:\.[a-z0-9]+)?\.parquet$")


def _bucket_layout_ok(path: str, num_buckets: int) -> bool:
    """True iff every data file under ``path`` carries a writer-stamped
    bucket id consistent with ``num_buckets``. A directory written by a
    plain (non-bucketed) writer, or by a bucketed writer with a LARGER
    bucket count, fails; adopting either would make every scan error
    ('Invalid bucket file') or — worse — silently mis-route co-located
    joins. (Files written mod a SMALLER count are indistinguishable from
    a sparse layout by name alone; encoding the count in the path is the
    primary defense, this check the backstop.)"""
    import os

    data_files = [
        f
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith((".crc", ".tmp"))
    ]
    if not data_files:
        return False
    ids = []
    for f in data_files:
        m = _BUCKET_FILE_RE.search(f)
        if m is None:
            return False
        ids.append(int(m.group(1)))
    return max(ids) < num_buckets


#: sidecar file stamped into every store this module builds; its spec
#: tuple is the AUTHORITATIVE adoption identity (the path suffix is a
#: uniqueness convenience, the sidecar the proof). Underscore prefix →
#: ignored by Spark's file index, like ``_SUCCESS``.
_BUCKET_SPEC_FILE = "_BUCKET_SPEC.json"


def shared_store_root() -> str:
    """Per-user 0700 root for every shared materialized store this
    module adopts into DEFAULT query results (fact stores, LSH band
    table, fingerprint store, IVF assignment index).

    The pre-r14 layout put adoptable stores at a predictable name
    directly in the world-writable temp dir — another local user could
    pre-plant a directory with a valid ``_BUCKET_SPEC.json`` and
    bucket-stamped files that t09/t11/t12/t16/t45 would then silently
    adopt into their results (ADVICE r13). Rooting stores under
    ``$TMPDIR/mgs-{uid}`` (mode 0700, ownership verified on every call)
    makes a foreign plant impossible without already owning the uid; a
    pre-existing entry that is a symlink, a non-directory, or owned by
    someone else is refused loudly rather than traversed. On a real
    cluster this root is a per-tenant prefix on shared storage and the
    same ownership check is the object-store ACL."""
    import stat
    import tempfile

    uid = os.getuid()
    root = os.path.join(tempfile.gettempdir(), f"mgs-{uid}")
    try:
        os.mkdir(root, 0o700)
    except FileExistsError:
        st = os.lstat(root)
        if not stat.S_ISDIR(st.st_mode) or stat.S_ISLNK(st.st_mode):
            raise RuntimeError(
                f"shared store root {root} exists but is not a directory"
            )
        if st.st_uid != uid:
            raise RuntimeError(
                f"shared store root {root} is owned by uid {st.st_uid}, "
                f"not the current uid {uid} — refusing to adopt stores "
                "from a foreign-owned directory"
            )
        if st.st_mode & 0o077:
            os.chmod(root, 0o700)  # tighten a legacy/loosened root
    return root


def shared_store_path(name: str) -> str:
    """Canonical on-disk location for a shared store named ``name``
    (under :func:`shared_store_root`). Every ``adopt_or_build``-class
    caller routes through this so the ownership guarantee is uniform."""
    return os.path.join(shared_store_root(), name)


def derived_dir(kind: str, sf_dir: str, *tables: str) -> str:
    """Directory for data of ``kind`` derived from ``tables`` of
    ``sf_dir``: ``mgs_{kind}_{cache_tag}`` under
    :func:`shared_store_root`, so regenerating a source moves its
    derivations to a fresh directory. Every staging, layout copy and
    stream scratch directory the operators write is named here. A
    directory that is built once per corpus is built and committed
    by :func:`write_once`, under its ``.lock`` sibling; the stream
    scratch directories are rebuilt on every run and take no lock."""
    return shared_store_path(f"mgs_{kind}_{cache_tag(sf_dir, *tables)}")


@contextlib.contextmanager
def exclusive(lock_path: str, wait_s: float | None):
    """Hold an exclusive ``flock`` on ``lock_path`` for the ``with``
    body: the one lock of every writer in the package (the
    :func:`write_once` store builds, the snapshot manifest and version
    claims, the point-index refresh).

    Waits up to ``wait_s`` seconds (``None``: until the lock is free,
    ``0``: one try), then raises :class:`TimeoutError`. The kernel drops
    the lock when its holder's process dies, so a crashed writer never
    blocks the next one and nothing has to prove a holder dead. Each
    open file description locks on its own, so threads of one process
    serialize too (POSIX record locks would not: they belong to the
    whole process, and closing any descriptor of the file drops them).
    Never unlink a lock file another writer may open: a waiter that
    opened the path before the unlink would lock an orphaned inode."""
    import fcntl
    import time

    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o600)
    try:
        deadline = None if wait_s is None else time.monotonic() + wait_s
        while True:
            try:
                fcntl.flock(
                    fd, fcntl.LOCK_EX | (0 if deadline is None else fcntl.LOCK_NB)
                )
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"{lock_path} held by another writer for >{wait_s:g}s"
                    ) from None
                time.sleep(0.05)
        yield
    finally:
        os.close(fd)


#: longest :func:`write_once` waits for another writer's build of the
#: same store before it raises :class:`TimeoutError`
STORE_BUILD_WAIT_S = 900.0

#: commit marker :func:`write_once` stamps after ``write(path)`` has
#: returned. Underscore prefix → ignored by Spark's file index.
_COMMIT_FILE = "_COMMITTED"


def _committed(path: str) -> bool:
    """True iff :func:`write_once` committed ``path`` and the current
    uid owns it: a directory another uid owns is never trusted into
    query results (ADVICE r13), it is rebuilt."""
    try:
        return os.stat(path).st_uid == os.getuid() and os.path.exists(
            os.path.join(path, _COMMIT_FILE)
        )
    except OSError:
        return False


def write_once(path: str, write) -> str:
    """Build the derived store at ``path`` unless it is committed;
    return ``path``. The one protocol by which the package builds a
    store, staging or layout copy and decides that it is complete.

    The build runs under :func:`exclusive` on ``{path}.lock`` (waiting
    at most :data:`STORE_BUILD_WAIT_S`), so of two threads or processes
    on one store the second waits and then reads the first one's. It
    clears whatever an uncommitted ``path`` holds, runs ``write(path)``
    and only then stamps ``path/_COMMITTED``. ``write`` may take
    several steps (write, then upsert, delete or publish versions into
    what it wrote): a writer that raises or dies at any step leaves no
    marker, and the next call rebuilds from an empty ``path``. Nothing
    mutates a committed store."""
    if not _committed(path):
        import shutil

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with exclusive(path + ".lock", STORE_BUILD_WAIT_S):
            if not _committed(path):
                shutil.rmtree(path, ignore_errors=True)
                write(path)
                open(os.path.join(path, _COMMIT_FILE), "w").close()
    return path


def bucket_table_suffix(num_buckets: int, bucket_cols: list[str]) -> str:
    """Path/table suffix encoding the FULL bucket spec. The trailing 6
    hex chars hash the column TUPLE with a NUL separator, so specs that
    collide under plain ``'_'.join`` (``['a','b_c']`` vs ``['a_b','c']``
    — '_' is legal inside identifiers) still land on distinct paths
    (ADVICE r12)."""
    import hashlib

    spec_hash = hashlib.md5(
        "\x00".join(bucket_cols).encode()
    ).hexdigest()[:6]
    return f"_k{num_buckets}_" + "_".join(bucket_cols) + f"_{spec_hash}"


def _read_bucket_spec(path: str) -> dict | None:
    """The sidecar's spec dict, or None if absent/unreadable/torn."""
    import json
    import os

    try:
        with open(os.path.join(path, _BUCKET_SPEC_FILE)) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        return None
    return spec if isinstance(spec, dict) else None


#: (applicationId, bucket count) of each SparkContext that has built
#: or adopted a store — a runtime memo, a set like the package's others
_STORE_BUCKETS: set[tuple[str, int]] = set()


def store_bucket_count(spark: SparkSession) -> int:
    """The bucket count of every store this SparkContext builds: its
    ``defaultParallelism`` when first asked, then fixed for the
    context's life. That is ``N`` under ``local[N]`` and
    ``spark.default.parallelism`` when set; otherwise a cluster reports
    the cores of the executors registered so far (at least 2), and
    dynamic allocation moves it. Fixing it once keeps all of a
    session's stores co-located; a cluster session should set
    ``spark.default.parallelism`` to its executor cores so the count
    does not depend on when the first store is built."""
    sc = spark.sparkContext
    app = sc.applicationId
    for held, n in _STORE_BUCKETS:
        if held == app:
            return n
    n = sc.defaultParallelism
    _STORE_BUCKETS.add((app, n))
    return n


def adopt_or_build_bucketed_table(
    spark: SparkSession,
    name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int | None,
    build,
) -> str:
    """Ensure a bucketed catalog table exists; returns the EFFECTIVE
    table name — ``{name}{bucket_table_suffix(...)}``, i.e.
    ``{name}_k{num_buckets}_{cols}_{spec_hash}``.

    ``num_buckets=None`` — what every store builder passes — is
    :func:`store_bucket_count`, the session's parallelism fixed once
    per SparkContext. A store scan is then one wave of tasks, and every
    store a session builds shares one count, so joins between stores
    on their bucket keys stay co-located. An explicit count (the IVF
    index's ``n_cells``, tests) wins. The FULL bucket spec
    — count AND columns — is part of the identity: files hashed mod M
    are unusable — or silently wrong — under metadata declaring N, and
    files bucketed by OLD columns adopted under CLUSTERED BY (new
    columns) silently mis-route co-located joins (the on-disk bucket
    ids cannot reveal which column hashed them). A caller changing
    either lands on a different table+path, never adopting old files.
    The same suffix is appended to ``path``, which also fences off any
    plain parquet an older layout left at the unsuffixed location.

    A warm call returns on ``spark.catalog.tableExists`` before any
    filesystem work. Otherwise the store is built through
    :func:`write_once`, whose body writes ``build()`` bucketed and
    sorted via :func:`write_parquet` and stamps the
    ``_BUCKET_SPEC.json`` sidecar; ``build`` is called only when it
    builds. A committed store another session built (the in-memory
    catalog dies with the session while the parquet survives) is
    ADOPTED with ``CREATE TABLE … CLUSTERED BY … LOCATION``, a metadata
    op, once its sidecar matches the requested spec exactly and its
    data files carry writer-stamped bucket ids consistent with
    ``num_buckets`` (:func:`_bucket_layout_ok`). A committed store that
    fails either check is never adopted: the call raises, naming the
    path. Uncommitted leftovers (foreign, partial or non-bucketed
    files, a torn build) are cleared and rebuilt by :func:`write_once`.

    This function is what makes the materialized LSH band table and
    the fingerprint store cost one signature pass per CORPUS VERSION,
    not one per session (with a persistent metastore the adoption never
    fires).
    """
    import json

    if num_buckets is None:
        num_buckets = store_bucket_count(spark)
    suffix = bucket_table_suffix(num_buckets, bucket_cols)
    name = f"{name}{suffix}"
    path = f"{path.rstrip('/')}{suffix}"
    if spark.catalog.tableExists(name):
        return name
    want_spec = {"num_buckets": num_buckets, "bucket_cols": list(bucket_cols)}

    def write(path: str) -> None:
        write_parquet(
            build().repartition(num_buckets, *bucket_cols),
            path,
            bucket_table=name,
            bucket_cols=bucket_cols,
            num_buckets=num_buckets,
        )
        with open(os.path.join(path, _BUCKET_SPEC_FILE), "w") as fh:
            json.dump({**want_spec, "version": 2}, fh)

    write_once(path, write)
    if spark.catalog.tableExists(name):  # this session built it
        return name
    on_disk = _read_bucket_spec(path)
    if (
        on_disk is None
        or {k: on_disk.get(k) for k in want_spec} != want_spec
        or not _bucket_layout_ok(path, num_buckets)
    ):
        raise RuntimeError(
            f"committed store {path} does not hold {num_buckets} buckets on "
            f"{list(bucket_cols)} (sidecar {on_disk}); remove it to rebuild"
        )
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
    bc = ", ".join(bucket_cols)
    # IF NOT EXISTS: two threads of one session can both adopt; the
    # second CREATE must be a no-op, not an AnalysisException
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({bc}) SORTED BY ({bc}) INTO {num_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return name


def bucketed_fact_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
) -> str:
    """Full-width copy of a source fact table, bucketed+sorted on its
    join key — the amortized-shuffle substrate for EVERY equi-join and
    group-by on that key (the t40 recipe generalized to any source
    table). Built once per corpus version (:func:`cache_tag` keys the
    identity on the source files' list+size+mtime, so regenerating the
    source rebuilds the store instead of serving stale rows), adopted
    by later sessions via :func:`adopt_or_build_bucketed_table`.

    Full-width on purpose: parquet column pruning makes query-time
    reads pay only for the columns they touch, while one store serves
    every query in the key's join family. It has as many buckets as
    the session's parallelism (:func:`store_bucket_count`), so at
    100 TB the store is sized by the cluster's executor cores and
    lands on shared storage — the one-time bucketed write replaces
    a per-query shuffle of the fact table with a never-again cost (the
    reference has no analog: its every job re-partitions the full
    input, manager/__main__.py round-robin split)."""
    tag = cache_tag(sf_dir, table)
    name = f"mgs_fact_{table}_{key}_{tag}"
    return adopt_or_build_bucketed_table(
        spark,
        name,
        shared_store_path(name),
        [key],
        None,
        lambda: load_table(spark, sf_dir, table),
    )


#: formats the engine reads/writes out of the box (reference: text only)
SUPPORTED_FORMATS = ("parquet", "csv", "json", "orc", "text")


def read_source(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema=None,
    **options: str,
) -> DataFrame:
    """Generic batch source. CSV/JSON default to header/inference options
    that make round-trips lossless when a schema is supplied (schema
    inference is a convenience for exploration, not the scale path — at
    100 TB always pass the schema to avoid the inference pre-scan)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {SUPPORTED_FORMATS}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        options.setdefault("inferSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def write_sink(
    df: DataFrame,
    fmt: str,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Generic batch sink (part-* files, like the reference's F9 sink but
    in any supported format; hive-style partition_by enables downstream
    partition pruning)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {SUPPORTED_FORMATS}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).save(path)


def read_json_with_dead_letters(
    spark: SparkSession, path: str, schema: "StructType"
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON read split into (good, dead_letters).

    At 100 TB malformed records are a statistical certainty; failing the
    job (FAILFAST) or silently nulling fields (plain PERMISSIVE) are both
    wrong at scale. This is the dead-letter-queue pattern: corrupt lines
    are captured verbatim in ``_corrupt_record`` and routed to a
    quarantine output for offline inspection, while clean rows flow on.
    Both sides come from ONE parsed pass: Spark refuses corrupt-only
    projections straight off the source (UNSUPPORTED_FEATURE.QUERY_ONLY_
    CORRUPT_RECORD_COLUMN), so the parsed frame is cached — at 100 TB
    replace the cache with a persisted parse (write parsed+corrupt to a
    staging table once, split from there).

    The supplied schema must NOT include the corrupt-record column; it is
    appended here (Spark requires it declared when a schema is given).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    corrupt_col = "_corrupt_record"
    full_schema = StructType(schema.fields + [StructField(corrupt_col, StringType())])
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    ).cache()
    good = raw.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    dead = raw.where(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, dead


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet read with schema merging across files (one or more dirs —
    e.g. per-schema-version subdirectories of an evolving table).

    The schema-evolution read: files written before a column existed and
    files written after read as one table, old rows null-filled. Merging
    schemas requires a footer pass over all files — at 100 TB enable it
    only on tables that actually evolve, or pin the unified schema
    explicitly (``spark.read.schema(unified).parquet(path)``) to skip
    the pre-scan entirely; this helper is the evolving-table path.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def _part_membership(col: str, values: list):
    """Null-safe partition membership predicate. Plain ``isin`` is a
    data-loss trap here TWICE over: a NULL cell (the
    ``__HIVE_DEFAULT_PARTITION__`` rows) makes ``isin`` evaluate to SQL
    NULL — never true, and never true under ``~`` either — and a None
    ELEMENT in ``values`` (a delta that touches the null partition)
    nulls the comparison for every non-matching row. Either way rows
    silently fall out of both the carry-over filter and its complement,
    and the dynamic overwrite then drops the base's null-partition rows
    on the floor. Built as a disjunction of ``eqNullSafe``/``isNull``
    terms — each is three-valued-logic-free (TRUE/FALSE for every row,
    so negation is total) AND a Catalyst-translatable partition filter,
    keeping the touched-partition scan pruned (a ``coalesce`` wrapper
    would be null-safe but unpushable)."""
    from functools import reduce
    from operator import or_

    terms = [
        F.col(col).isNull() if v is None else F.col(col).eqNullSafe(F.lit(v))
        for v in values
    ]
    return reduce(or_, terms) if terms else F.lit(False)


def partition_upsert(
    spark: SparkSession,
    base_path: str,
    delta: DataFrame,
    partition_col: str,
    key_cols: list[str],
    check_moved_keys: bool = False,
) -> list:
    """MERGE-style upsert into a hive-partitioned parquet table,
    rewriting ONLY the partitions the delta touches. Returns the list of
    touched partition values.

    The OSS-parquet answer to ``MERGE INTO`` (which needs a table format
    like Delta/Iceberg): rows whose ``key_cols`` match a delta row are
    replaced, the rest of the touched partitions are carried over, new
    keys are appended — and partitions the delta never mentions are NOT
    read, NOT rewritten, and keep their files byte-identical (asserted
    by mtime in ``tests/test_upsert.py``). At 100 TB that scoping is the
    whole point: a daily-corrections delta costs one day's rewrite, not
    a table rewrite.

    Mechanics: collect the delta's distinct partition values (metadata-
    sized — a delta touches few partitions by construction), read the
    base FILTERED to those partitions (partition pruning keeps the scan
    to the touched directories), anti-join on the key, union the delta,
    and write with ``partitionOverwriteMode=dynamic`` so only the
    partitions present in the result are replaced. The merged slice is
    ``localCheckpoint``-ed before the write because Spark (correctly)
    refuses to overwrite files an active plan still reads from; the
    checkpoint materializes the touched partitions — delta-scoped, never
    table-scoped. A production variant on object storage would stage to
    a sibling prefix and swap; the partition-scoped cost is identical.

    Caveat (inherent to partition-scoped MERGE, same as Hive dynamic
    overwrite): matching is per-partition. A delta row whose key exists
    under a DIFFERENT partition value updates nothing there — the old
    row survives untouched. If keys can move between partitions (e.g. a
    corrected event date), delete-then-insert across both partitions or
    use the deletion-vector path (:func:`delete_where`) for the old
    coordinates. Pass ``check_moved_keys=True`` to turn that silent
    footgun into an error: the delta's keys are semi-joined against the
    base OUTSIDE the touched partitions (one extra pruned-complement
    scan of key columns only — opt-in because at 100 TB that scan is
    table-sized even though the join state is delta-sized), and any hit
    raises ``ValueError`` naming up to 10 offending keys.
    """
    touched = [r[0] for r in delta.select(partition_col).distinct().collect()]
    if check_moved_keys:
        moved = (
            read_with_deletes(spark, base_path)
            .where(~_part_membership(partition_col, touched))
            .select(*key_cols, F.col(partition_col).alias("__old_part"))
            .join(F.broadcast(delta.select(*key_cols).distinct()), key_cols)
            .limit(10)
            .collect()
        )
        if moved:
            raise ValueError(
                "partition_upsert: delta keys already exist under other "
                f"partition values of {base_path} (old rows would survive "
                f"the merge): {[tuple(r) for r in moved]} — delete the old "
                "coordinates first (delete_where) or fix the delta's "
                f"{partition_col}."
            )
    # read the carried-over base THROUGH the deletion vectors: a raw read
    # here resurrected DV-deleted rows into the rewritten partition (the
    # merge copied them into new files the sidecar's coordinates don't
    # cover). Dangling sidecar entries for the files this overwrite
    # replaces are harmless — they reference paths no future scan lists.
    base = read_with_deletes(spark, base_path).where(
        _part_membership(partition_col, touched)
    )
    merged = (
        base.join(delta.select(*key_cols), key_cols, "left_anti")
        .unionByName(delta)
        .localCheckpoint()
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(base_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return touched


# --------------------------------------------------------------------------
# Versioned snapshot store — time travel on plain parquet
# --------------------------------------------------------------------------
#
# Delta/Iceberg time travel reduced to its two load-bearing properties:
# immutable versioned data directories (``v=N/``) + a tiny commit manifest
# (``_versions.json``) published by an atomic same-filesystem rename. A
# version is visible iff it is listed in the manifest, so readers never see
# a half-written snapshot; writers never mutate a published directory, so a
# reader pinned to version N is immune to concurrent writes — the property
# that makes backfill-while-serving safe at 100 TB. On object storage the
# rename becomes a conditional PUT of the manifest object; the layout is
# unchanged.

def _versions_manifest(root: str) -> str:
    return os.path.join(root, "_versions.json")


def _held_claims(root: str) -> set[int]:
    """Version numbers whose ``v=N.claim`` a live publisher holds. A
    claim nobody holds belongs to a publisher that died (or committed
    and died before removing it); it is removed here. The caller holds
    the manifest lock, under which alone claims are taken and removed,
    so the non-blocking try cannot race a publisher taking its claim."""
    held: set[int] = set()
    for name in os.listdir(root):
        m = re.fullmatch(r"v=(\d+)\.claim", name)
        if not m:
            continue
        claim = os.path.join(root, name)
        try:
            with exclusive(claim, 0):
                os.remove(claim)
        except TimeoutError:
            held.add(int(m.group(1)))
    return held


def list_versions(root: str) -> list[int]:
    """Committed snapshot versions at ``root``, ascending (empty if the
    store does not exist yet). Reads only the manifest — O(1), no
    directory listing."""
    import json

    mf = _versions_manifest(root)
    if not os.path.exists(mf):
        return []
    with open(mf) as fh:
        return sorted(json.load(fh)["versions"])


def _next_version(root: str) -> int:
    """Next free snapshot version: 1 + the max over the committed
    manifest, every on-disk ``v=N`` directory and every held
    ``v=N.claim``; the caller holds the manifest lock. Orphan
    directories from crashed writers must be SKIPPED, never collided
    with — allocating from the manifest alone meant one crashed publish
    bricked every later publish (``mode("error")`` on the orphan dir)
    until a vacuum swept it."""
    taken = set(list_versions(root)) | _held_claims(root)
    for name in os.listdir(root):
        m = re.fullmatch(r"v=(\d+)", name)
        if m:
            taken.add(int(m.group(1)))
    return (max(taken) + 1) if taken else 1


def versioned_write(df: DataFrame, root: str) -> int:
    """Publish ``df`` as the next immutable snapshot version of the
    table at ``root`` and return its version number.

    The data lands in ``root/v=N/`` (a plain parquet write — Spark's
    job commit makes the directory complete before ``_SUCCESS``
    appears); the version becomes VISIBLE only when the rewritten
    manifest is swapped into place with ``os.replace`` (atomic on a
    POSIX filesystem). Crash between data write and manifest swap
    leaves an unlisted orphan directory — invisible to every reader,
    reclaimable by a vacuum sweep, SKIPPED by the next publisher's
    version allocator — never a torn table, never a bricked store.

    Concurrent publishers are safe. Under the manifest lock
    (:func:`exclusive` on ``_versions.json.lock``) a publisher
    allocates the next number and takes :func:`exclusive` on its
    ``v=N.claim``, which it holds until it commits: a held claim keeps
    its number from other publishers and its ``v=N`` directory from
    vacuum, and a dead publisher's claim is released by the kernel and
    removed at the next allocation. The commit re-reads the committed
    versions under the manifest lock, so a slow writer cannot swap away
    a faster writer's commit, then removes the claim.
    """
    import json

    os.makedirs(root, exist_ok=True)
    mf = _versions_manifest(root)
    lock = mf + ".lock"
    with contextlib.ExitStack() as held:
        with exclusive(lock, None):
            n = _next_version(root)
            claim = os.path.join(root, f"v={n}.claim")
            # free by construction: n is past every held claim, and
            # claims are only taken under the manifest lock
            held.enter_context(exclusive(claim, 0))
        df.write.mode("error").parquet(os.path.join(root, f"v={n}"))
        with exclusive(lock, None):
            versions = sorted(set(list_versions(root)) | {n})
            tmp = f"{mf}.tmp.{n}"
            with open(tmp, "w") as fh:
                json.dump({"versions": versions}, fh)
            os.replace(tmp, mf)
            os.remove(claim)
        return n


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read one committed snapshot of the versioned table at ``root`` —
    the latest by default, or a pinned ``version`` (time travel). Raises
    ``ValueError`` for a version the manifest has never published (an
    orphan ``v=N`` directory from a crashed write is not readable)."""
    versions = list_versions(root)
    if not versions:
        raise ValueError(f"no committed versions at {root}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not committed at {root}; have {versions}")
    return spark.read.parquet(os.path.join(root, f"v={v}"))


def vacuum_snapshots(
    root: str, keep_last: int = 2, min_age_s: float = 0.0
) -> dict:
    """Reclaim snapshot-store space: drop all but the newest
    ``keep_last`` committed versions and delete orphan ``v=N``
    directories left by crashed writers. Returns
    ``{"dropped": [...], "orphans": [...]}``.

    ``min_age_s`` is the time-based retention floor (Delta/Iceberg's
    VACUUM RETAIN): a committed version younger than this (by its
    directory mtime) is kept even past ``keep_last``, and a young
    uncommitted directory is not yet presumed crashed — both protect
    readers that resolved a version moments ago and writers between
    data write and manifest swap. The default keeps the historical
    behavior (no floor).

    Order matters for crash safety — the inverse of commit: first
    publish the SHRUNK manifest (atomic ``os.replace``, so no reader
    can begin a scan of a doomed version after this point), then delete
    the now-unreferenced directories. A crash mid-vacuum leaves only
    unreferenced directories — the next vacuum sweeps them as orphans.
    Readers holding an already-opened DataFrame on a dropped version
    race with the delete exactly as in Delta/Iceberg VACUUM; production
    deployments add a time-based retention floor for that reason.

    Safe against concurrent PUBLISHERS (ADVICE r11): the whole vacuum,
    deletes included, runs under the manifest lock publishers allocate
    and commit under, so the committed versions it reads are still the
    committed versions when it deletes, and a freed number cannot be
    handed to a new publisher before its directory is gone. An
    uncommitted ``v=N`` directory is an orphan only when no live
    publisher holds its ``v=N.claim`` (a non-blocking try of the claim's
    lock; claims nobody holds are removed).
    """
    import json
    import shutil
    import time

    if not os.path.isdir(root):  # pre-first-publish / removed store:
        return {"dropped": [], "orphans": []}  # nothing to reclaim

    def _too_young(v: int) -> bool:
        if min_age_s <= 0:
            return False
        try:
            return time.time() - os.path.getmtime(os.path.join(root, f"v={v}")) < (
                min_age_s
            )
        except OSError:
            return False  # directory gone → nothing to protect

    mf = _versions_manifest(root)
    with exclusive(mf + ".lock", None):
        versions = list_versions(root)
        keep = versions[-keep_last:] if keep_last > 0 else []
        dropped = [v for v in versions if v not in keep and not _too_young(v)]
        keep = [v for v in versions if v not in dropped]
        if dropped:
            tmp = mf + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"versions": keep}, fh)
            os.replace(tmp, mf)
        in_flight = _held_claims(root)
        on_disk = (re.fullmatch(r"v=(\d+)", name) for name in os.listdir(root))
        orphans = sorted(
            v
            for v in (int(m.group(1)) for m in on_disk if m)
            if v not in versions and v not in in_flight and not _too_young(v)
        )
        for v in dropped + orphans:
            shutil.rmtree(os.path.join(root, f"v={v}"), ignore_errors=True)
    return {"dropped": dropped, "orphans": orphans}


# --------------------------------------------------------------------------
# Merge-on-read DELETE — deletion vectors on plain parquet
# --------------------------------------------------------------------------
#
# The third lakehouse DML verb (insert/update = partition_upsert above):
# DELETE without rewriting a single data file. Matching rows are recorded
# as (file_path, row_index) coordinates — Spark's parquet scan exposes
# both via the `_metadata` struct — in a `_deletes/` sidecar inside the
# table directory (underscore prefix → invisible to plain data reads).
# Readers anti-join the sidecar at scan time (merge-on-read); a periodic
# compaction (`apply_deletes`) rewrites ONLY the files that carry
# deletes and clears the sidecar. This is Delta/Iceberg deletion vectors
# reduced to Spark primitives: the delete itself is O(matches), reads pay
# one anti-join against a coordinates table that is tiny by construction,
# and at 100 TB a delete of one user's rows touches zero data bytes.

def _deletes_dir(path: str) -> str:
    return os.path.join(path, "_deletes")


def delete_where(spark: SparkSession, path: str, condition) -> int:
    """Mark every row of the parquet table at ``path`` matching
    ``condition`` as deleted, touching no data file. Returns the number
    of rows newly marked (rows already deleted are not re-marked, so
    the call is idempotent). Commits are append-only — concurrent
    deletes of different predicates compose."""
    marks = (
        read_with_deletes(spark, path, _keep_coords=True)
        .where(condition)
        .select("_file", "_row_index")
        .localCheckpoint()  # pin the coordinate set before the sidecar grows
    )
    n = marks.count()
    if n:
        marks.write.mode("append").parquet(_deletes_dir(path))
    return n


#: sidecar bytes on disk above which read_with_deletes stops forcing a
#: broadcast and lets the anti-join shuffle instead. Coordinates rows
#: are (path string, long); dictionary-encoded parquet understates the
#: hash-table blowup badly, so the cutoff is conservative — a sidecar
#: this big means a delete-heavy table that wants apply_deletes anyway.
DV_BROADCAST_MAX_BYTES = 32 * 1024 * 1024


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _with_coords(df: DataFrame) -> DataFrame:
    """Project the (file, row_index) DV coordinates — must be applied
    ON THE SCAN RELATION: ``_metadata`` resolves only there, and
    projecting it after a join is unresolvable (the r11 batched-lookup
    bug class). The single definition all three merge-on-read readers
    and the compaction share."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.row_index").alias("_row_index"),
    )


def _sidecar_has_files(dv_dir: str) -> bool:
    """A ``_deletes`` sidecar counts only when it holds actual parquet
    files: a dir with nothing but committer debris (an append job that
    died after creating the directory) must read as "no deletes" —
    ``spark.read.parquet`` on it would raise UNABLE_TO_INFER_SCHEMA and
    brick every read of a perfectly intact table (review r12)."""
    return os.path.isdir(dv_dir) and any(
        f.endswith(".parquet") for f in os.listdir(dv_dir)
    )


def _local_path(uri: str) -> str:
    """A ``_metadata.file_path`` URI as a plain local path (scheme and
    percent-encoding stripped); non-file schemes pass through."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme in ("file", "") else uri


def dv_anti_join(df: DataFrame, dv_dir: str) -> DataFrame:
    """Size-guarded deletion-vector anti-join, shared by every
    merge-on-read path (:func:`read_with_deletes` and the point-index
    lookup — ADVICE r8 flagged the lookup hard-coding its own broadcast
    and bypassing this guard). ``df`` must already carry the
    ``_file``/``_row_index`` coordinate columns. While the sidecar is
    metadata-sized (the design point) the anti-join is forced broadcast;
    past ``DV_BROADCAST_MAX_BYTES`` on disk the hint is dropped so Spark
    shuffles instead of OOMing the driver building a giant hash table —
    a delete-heavy table at that size should be compacted
    (:func:`apply_deletes`), and the reader warns so."""
    spark = df.sparkSession
    dv = spark.read.parquet(dv_dir).select("_file", "_row_index")
    if _dir_bytes(dv_dir) <= DV_BROADCAST_MAX_BYTES:
        dv = F.broadcast(dv)
    else:
        import warnings

        warnings.warn(
            f"deletion sidecar at {dv_dir} exceeds "
            f"{DV_BROADCAST_MAX_BYTES >> 20} MiB — using a shuffled "
            "anti-join; run apply_deletes() to compact",
            stacklevel=2,
        )
    return df.join(dv, ["_file", "_row_index"], "left_anti")


def read_with_deletes(
    spark: SparkSession, path: str, _keep_coords: bool = False
) -> DataFrame:
    """Read the parquet table at ``path`` with its deletion vectors
    applied: rows whose (file, row_index) coordinates appear in the
    ``_deletes`` sidecar are filtered out by :func:`dv_anti_join`
    (merge-on-read)."""
    df = _with_coords(spark.read.parquet(path))
    dv_dir = _deletes_dir(path)
    if _sidecar_has_files(dv_dir):
        df = dv_anti_join(df, dv_dir)
    return df if _keep_coords else df.drop("_file", "_row_index")


def read_files_with_deletes(
    spark: SparkSession, path: str, files: list[str]
) -> DataFrame:
    """Read ONLY ``files`` of the table at ``path``, deletion vectors
    applied — the composition every pruned read (zone-map manifest,
    posting index) must go through: reading a pruned file list with a
    bare ``spark.read.parquet(*files)`` silently resurrects DV-deleted
    rows on merge-on-read tables (the r11 batched-lookup bug class).
    ``_metadata`` coordinates are projected here, directly on the scan
    relation, BEFORE any join a caller adds — after a join the attribute
    is unresolvable. An empty ``files`` list returns a schema-only empty
    frame (a provably-empty pruning must never fall back to a
    whole-table scan)."""
    if not files:
        return spark.read.parquet(path).where(F.lit(False))
    # basePath keeps hive partition columns in the schema: a bare
    # leaf-file read does no partition discovery, so on a partitioned
    # table the partition columns would silently vanish — and disagree
    # with the empty-files branch above, which has them (review r12)
    df = spark.read.option("basePath", path).parquet(*files)
    dv_dir = _deletes_dir(path)
    if _sidecar_has_files(dv_dir):
        df = dv_anti_join(_with_coords(df), dv_dir).drop("_file", "_row_index")
    return df


def apply_deletes(spark: SparkSession, path: str) -> dict:
    """Compaction: physically drop deleted rows by rewriting ONLY the
    files the sidecar references, then clear the sidecar. Files with no
    deletes are not read, not rewritten, and keep their bytes. Returns
    ``{"rewritten_files": n, "dropped_rows": n}``.

    Caveat, stated honestly: the rewrite appends the compacted rows as
    new files before unlinking the old ones, so a crash in between
    leaves surviving rows duplicated (the sidecar still masks the
    DELETED rows). Single-maintainer semantics, like VACUUM everywhere;
    composing with the snapshot store (``versioned_write``) gives the
    atomic variant — write the compacted table as version N+1.
    """
    import shutil

    dv_dir = _deletes_dir(path)
    if not os.path.exists(dv_dir):
        return {"rewritten_files": 0, "dropped_rows": 0}
    if not _sidecar_has_files(dv_dir):  # committer debris only
        shutil.rmtree(dv_dir)
        return {"rewritten_files": 0, "dropped_rows": 0}
    dv = spark.read.parquet(dv_dir).select("_file", "_row_index").distinct()
    doomed_files = [r["_file"] for r in dv.select("_file").distinct().collect()]
    if not doomed_files:
        shutil.rmtree(dv_dir)
        return {"rewritten_files": 0, "dropped_rows": 0}
    live_df = spark.createDataFrame([(f,) for f in doomed_files], "_file string")
    affected = _with_coords(spark.read.parquet(path)).join(
        F.broadcast(live_df), ["_file"], "left_semi"
    )
    # the coordinates join honors the same size guard as dv_anti_join:
    # broadcasting a multi-GB sidecar would OOM the very maintenance job
    # meant to shrink it (review r12)
    dv_side = F.broadcast(dv) if _dir_bytes(dv_dir) <= DV_BROADCAST_MAX_BYTES else dv
    survivors = (
        affected.join(dv_side, ["_file", "_row_index"], "left_anti")
        .drop("_file", "_row_index")
        .localCheckpoint()  # materialize BEFORE writing into the dir we read
    )
    n_before = affected.count()
    n_after = survivors.count()
    # preserve the hive layout: on a partitioned table a flat append
    # would land root-level files carrying the partition column as data,
    # corrupting partition discovery for every later read. The partition
    # columns are inferred from the doomed files' directory chain BELOW
    # the table root only — '=' in a parent dir (a snapshot's v=3, an
    # /exp=1/ namespace) is not a partition column (review r12).
    below = os.path.relpath(
        os.path.dirname(_local_path(doomed_files[0])), os.path.abspath(path)
    )
    part_cols = [
        seg.split("=", 1)[0] for seg in below.split(os.sep) if "=" in seg
    ]
    writer = survivors.write.mode("append")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(path)
    for f in doomed_files:
        local = _local_path(f)
        if os.path.exists(local):
            os.remove(local)
    shutil.rmtree(dv_dir)
    return {
        "rewritten_files": len(doomed_files),
        "dropped_rows": n_before - n_after,
    }
