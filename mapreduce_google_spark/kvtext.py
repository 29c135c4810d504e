"""Spark 4 Python DataSource for the reference's native text formats.

The reference's entire storage layer is directories of line-oriented text
files — job input (any text lines, reference ``manager/__main__.py:321-327``
lists + sorts the directory) and intermediate/final ``key\tvalue`` records
(key = everything before the FIRST tab, reference
``worker/__main__.py:183``). :mod:`mapreduce_google_spark.io` already reads
both through Spark's built-in text source; THIS module re-exposes the
format as a first-class pluggable source via the Spark 4 Python
DataSource API (``spark.read.format("kvtext")``), demonstrating the
engine's extension surface:

* one input partition PER FILE — exactly the reference's map-task split
  (one file = one map task), so ``num_mappers`` parity comes free;
* deterministic file ordering (sorted names, like the reference's
  ``sorted(os.listdir())``);
* the TAB-split contract (first tab only, empty keys legal) implemented
  once, in the reader.

Honesty at scale: a Python reader is interpreter-bound (a compatibility
tier, NOT the parquet hot path) — it exists for format
compatibility and as the template for plugging genuinely custom formats
into this engine; columnar data belongs in parquet.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class KVTextDataSource(DataSource):
    """``spark.read.format("kvtext").load(dir)`` → ``key, value`` table.

    Options: ``path`` (directory). Schema is fixed 2×string — untyped
    strings ARE the reference's type system (SURVEY.md §1).
    """

    @classmethod
    def name(cls) -> str:
        return "kvtext"

    def schema(self) -> str:
        return "key string, value string"

    def reader(self, schema) -> "DataSourceReader":
        return _KVTextReader(self.options)

    def writer(self, schema, overwrite: bool) -> "DataSourceWriter":
        return _KVTextWriter(self.options, overwrite)

    def simpleStreamReader(self, schema) -> "SimpleDataSourceStreamReader":
        return _KVTextStreamReader(self.options)


class _KVTextReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kvtext source requires a path")

    def partitions(self):
        files = sorted(
            f
            for f in os.listdir(self.path)
            if not f.startswith(("_", "."))
            and os.path.isfile(os.path.join(self.path, f))
        )
        # one partition per file == one reference map task per file
        return [InputPartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        with open(partition.value, encoding="utf-8") as fh:
            for line in fh:
                key, _, value = line.rstrip("\n").partition("\t")
                yield (key, value)


class _KVTextStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("kvtext").load(dir)`` — the reference
    text directory as an UNBOUNDED source: each micro-batch consumes the
    files that arrived since the last offset (the file-arrival model the
    reference's job queue implies, re-expressed through Spark's
    pluggable streaming API).

    Offset = the sorted list of file names consumed so far. Explicit
    name-sets (not a high-watermark index) make replay exact under ANY
    arrival order: ``readBetweenOffsets`` re-reads precisely
    ``end − start`` during recovery, so a batch is reconstructed
    deterministically even if later files sort before earlier ones.
    Honesty at scale: a name-set offset grows with file count — fine for
    the reference's part-file layout (thousands), not for millions of
    files; the parquet file stream source with compacted log is the
    scale path.
    """

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kvtext stream source requires a path")

    def _visible(self) -> list:
        return sorted(
            f
            for f in os.listdir(self.path)
            if not f.startswith(("_", "."))
            and os.path.isfile(os.path.join(self.path, f))
        )

    def _rows_of(self, names):
        # a LIST, not a generator: the engine pickles the prefetched
        # rows to make the batch replayable from the checkpoint
        rows = []
        for name in names:
            with open(
                os.path.join(self.path, name), encoding="utf-8"
            ) as fh:
                for line in fh:
                    key, _, value = line.rstrip("\n").partition("\t")
                    rows.append((key, value))
        return rows

    def initialOffset(self) -> dict:
        return {"seen": []}

    def read(self, start: dict):
        seen = set(start["seen"])
        new = [f for f in self._visible() if f not in seen]
        end = {"seen": sorted(seen | set(new))}
        return self._rows_of(new), end

    def readBetweenOffsets(self, start: dict, end: dict):
        delta = sorted(set(end["seen"]) - set(start["seen"]))
        return self._rows_of(delta)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: source files are immutable


class _KVTextCommit(WriterCommitMessage):
    def __init__(self, tmp_file: str, final_file: str) -> None:
        self.tmp_file = tmp_file
        self.final_file = final_file


class _KVTextWriter(DataSourceWriter):
    """``df.write.format("kvtext").mode("overwrite").save(dir)`` —
    reference-format ``part-NNNNN`` files of ``key\tvalue`` lines.

    Exactly-once via the DataSource commit protocol: each task writes a
    ``.tmp`` file named by its partition id AND task attempt id (so two
    concurrent attempts of the same partition — speculation, or a retry
    racing a zombie — never share a file), and reports both the tmp and
    the final name in its commit message; the DRIVER renames only the
    WINNING attempts' files into place on commit, and ``abort`` removes
    only the aborting attempt's own file — a failed/speculative task's
    output is never visible (the same tmp-then-rename contract the
    reference's workers use for their part files).

    Format contract (matches the reference's, ``worker/__main__.py:183``):
    a record is one line, key = everything before the FIRST tab. Values
    MAY therefore contain tabs (round-trips exactly); keys must not
    contain tabs, and neither side may contain newlines — the line
    format cannot represent those, so the writer VALIDATES and raises
    ``ValueError`` rather than silently corrupting records.
    """

    def __init__(self, options, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kvtext sink requires a path")
        self.overwrite = overwrite
        # Per-JOB token (minted driver-side, shipped to every task via
        # pickling): tmp sweeps in commit/abort match only THIS job's
        # files, so a concurrent job writing the same directory never
        # has its in-flight tmp files deleted, and an aborted job can
        # sweep its own strays (attempts that died before reporting a
        # commit message have no entry in `messages`).
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        os.makedirs(self.path, exist_ok=True)
        # Attempt id in the tmp name: concurrent attempts of the same
        # partition write disjoint files; the driver later renames only
        # the attempt whose commit message it accepted.
        tmp = os.path.join(
            self.path, f".part-{pid:05d}-a{attempt}-{self.job_token}.tmp"
        )
        final = os.path.join(self.path, f"part-{pid:05d}")
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                key = "" if row[0] is None else str(row[0])
                value = "" if row[1] is None else str(row[1])
                if "\t" in key:
                    raise ValueError(
                        "kvtext key may not contain a tab (key = text "
                        f"before the first tab on readback): {key!r}"
                    )
                if "\n" in key or "\r" in key or "\n" in value or "\r" in value:
                    raise ValueError(
                        "kvtext records are line-oriented; keys/values "
                        "may not contain newlines"
                    )
                fh.write(f"{key}\t{value}\n")
        return _KVTextCommit(tmp, final)

    def commit(self, messages) -> None:
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-"):
                    os.remove(os.path.join(self.path, f))
        # Rename ONLY the winning attempts (the ones Spark reported);
        # losing speculative attempts' tmp files are swept afterwards —
        # scoped by job token so a concurrent job's tmp files survive.
        for m in messages:
            os.replace(m.tmp_file, m.final_file)
        self._sweep_own_tmp()

    def abort(self, messages) -> None:
        # Remove every tmp file THIS job produced (token-scoped) — that
        # covers both reported attempts and attempts that died before
        # returning a commit message (whose `messages` entry is None) —
        # and never another job's (possibly still-winning) output.
        for m in messages:
            if m is not None and os.path.exists(m.tmp_file):
                os.remove(m.tmp_file)
        self._sweep_own_tmp()

    def _sweep_own_tmp(self) -> None:
        # best-effort: the output dir is only created executor-side in
        # write(), so a job that dies before any task runs (upstream
        # query error) reaches abort() with no directory — that abort
        # must not raise and mask the original failure
        if not os.path.isdir(self.path):
            return
        suffix = f"-{self.job_token}.tmp"
        for f in os.listdir(self.path):
            if f.startswith(".part-") and f.endswith(suffix):
                os.remove(os.path.join(self.path, f))


_REGISTERED: set[tuple] = set()


def ensure_registered(spark) -> None:
    """Register the source once per underlying JVM session (idempotent).

    The memo key is (applicationId, JVM-session identity hash), NOT
    ``id(spark)``: PySpark hands out ephemeral Python wrapper objects
    around the one JVM session (``df.sparkSession`` etc.), and CPython
    reuses a garbage-collected wrapper's ``id()`` for new objects — so
    an id-keyed memo can return a false "already registered" and the
    next ``format("kvtext")`` call dies with DATA_SOURCE_NOT_FOUND.
    Registration itself is idempotent (re-register warns and replaces),
    so a memo MISS is always safe; only a false HIT is fatal — key on
    the JVM object, whose identity is what the registration actually
    lives on.

    SEPARATE thread caveat (diagnosed r18): Python DataSource LOOKUP
    resolves through the JVM's thread-local active session, so calls
    issued from a non-main driver thread fail with
    DATA_SOURCE_NOT_FOUND regardless of registration (reproduced
    minimally; this is Spark's session-threading contract, not a
    registration bug). Drive kvtext reads/writes from the thread that
    owns the session — the registry sweep tool inverted its
    watchdog for exactly this reason."""
    key = (spark.sparkContext.applicationId, spark._jsparkSession.hashCode())
    if key not in _REGISTERED:
        spark.dataSource.register(KVTextDataSource)
        _REGISTERED.add(key)


def read_kvtext(spark, path: str):
    """Read a reference-format text dir through the pluggable source."""
    ensure_registered(spark)
    return spark.read.format("kvtext").load(path)


def read_kvtext_stream(spark, path: str):
    """Stream a reference-format text dir: one micro-batch per set of
    newly-arrived files (exactly-once with checkpointing — offsets are
    file-name sets, replayed deterministically on recovery)."""
    ensure_registered(spark)
    return spark.readStream.format("kvtext").load(path)


def write_kvtext(df, path: str) -> None:
    """Write a 2-column DataFrame as reference-format part files through
    the pluggable sink (exactly-once tmp-then-rename commit)."""
    ensure_registered(df.sparkSession)
    df.write.format("kvtext").mode("overwrite").save(path)
