"""Streaming-executable surface (reference F3/F8).

The reference's entire UDF model is "pipe lines through an arbitrary
executable" (mapper: ``worker/__main__.py:167-186``, reducer:
``worker/__main__.py:241-249``) with md5 hash partitioning on the text
before the first TAB (``worker/__main__.py:62-65,183-185``), a sorted
run per reducer and one ``part-NNNNN`` file per reducer
(``worker/__main__.py:183-196``). This module reproduces that dataflow
with no Python on the executors:

    lines → PipedRDD(mapper) → repartitionById(md5 bucket of the key)
    → sortWithinPartitions(line) → PipedRDD(reducer) → n partitions

Both executables run through Spark's JVM ``PipedRDD`` (one process per
partition, UTF-8 on both pipes, the executor's environment inherited,
a non-zero exit status fails the task) and placement and sort are
Catalyst expressions (:func:`~mapreduce_google_spark.functions.hashing.md5_bucket`).
No Python worker starts: a Python task pays 127-204 ms before user code
runs, because PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
central directory of every zip importer on the worker path
(``pyspark.zip``, the py4j zip, the spark-core jar). A trivial 4-task
Python job took 230-330 ms against 150 ms for a JVM-only one on a
4-core host; the same floor applies to every Python UDF on the query
side.

The JVM calls (``_jdf``, ``_jvm``) follow :mod:`mapreduce_google_spark.plans.explain`:
classic sessions only.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_google_spark.functions.hashing import md5_bucket
from mapreduce_google_spark.io import load_table

ASSETS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "assets")

#: stdin buffer of each piped process, PipedRDD's default
PIPE_BUFFER_BYTES = 8192


def md5_partition(key: str, num_partitions: int) -> int:
    """Reference partition function: ``int(md5(key),16) % n``
    (``worker/__main__.py:62-65``). Placement itself runs as
    :func:`md5_bucket`; this is the plain-Python statement of it that
    tests compare against."""
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % num_partitions


def _pipe(df: DataFrame, command: str) -> DataFrame:
    """Stream the single string column of ``df`` through ``command``, one
    process per partition, in the JVM; returns ``DataFrame[value: string]``
    with the partitioning of ``df`` kept (partition i feeds process i)."""
    spark = df.sparkSession
    strings = spark._jvm.org.apache.spark.sql.Encoders.STRING()  # type: ignore[union-attr]
    piped = (
        getattr(df._jdf, "as")(strings)
        .javaRDD()
        .pipe(shlex.split(command), {}, False, PIPE_BUFFER_BYTES, "UTF-8")
    )
    jdf = spark._jsparkSession.createDataset(piped.rdd(), strings).toDF()
    return DataFrame(jdf, spark)


def pipe_map_reduce(
    lines: DataFrame,
    mapper_cmd: str,
    reducer_cmd: str,
    num_reducers: int = 8,
) -> DataFrame:
    """Run a reference-style streaming-exec job over a 1-column DataFrame
    of text lines; returns ``DataFrame[value: string]`` holding the
    reducers' stdout lines verbatim, partition i being reducer i's.

    Dataflow parity with the reference:
    * mapper sees the raw lines on stdin (a null line as ``''``) and emits
      ``key\\tvalue`` lines (F3);
    * each mapper line goes to reducer ``md5(key) % num_reducers``, the
      key being the text before the first TAB (F4);
    * each reducer's input is sorted by whole line, so all lines of one
      key are contiguous (F5/F7);
    * the reducer reads that stream on stdin (F8).
    A command is split with :func:`shlex.split`, not run by a shell.
    """
    line = F.col(lines.columns[0]).cast("string")
    text = lines.select(F.coalesce(line, F.lit("")).alias("value"))
    mapped = _pipe(text, mapper_cmd)
    key = F.substring_index("value", "\t", 1)
    placed = mapped.repartitionById(
        num_reducers, md5_bucket(key, num_reducers).cast("int")
    ).sortWithinPartitions("value")
    return _pipe(placed, reducer_cmd)


def pipe_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20 — T01 computed through the literal reference exec surface.

    Runs fresh mapper/reducer scripts (assets/) over documents.text via
    :func:`pipe_map_reduce`; the result must hash-match T01's declarative
    plan (same oracle SQL).
    """
    docs = load_table(spark, sf_dir, "documents")
    mapper = f"{sys.executable} {os.path.join(ASSETS, 'wc_mapper.py')}"
    reducer = f"{sys.executable} {os.path.join(ASSETS, 'wc_reducer.py')}"
    out = pipe_map_reduce(docs.select("text"), mapper, reducer, num_reducers=8)
    return out.select(
        F.substring_index("value", "\t", 1).alias("token"),
        F.substring_index("value", "\t", -1).cast("long").alias("cnt"),
    ).orderBy("token")


def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T54 — per-token frequency + mean position via a Python UDTF.

    The modern analog of the reference's mapper-executable surface (F3):
    where the reference fans one input line out to N ``key\\tvalue``
    lines through an arbitrary subprocess, a Python UDTF declares the
    output schema and yields N typed rows per input row, applied with a
    SQL LATERAL join. Same extensibility contract — arbitrary user code,
    one-to-many — minus the subprocess and the untyped TAB protocol.

    Like T20 this is the slow (Python) path and exists as the
    extensibility surface; the declarative T01 family is the hot path.
    Scale: the UDTF runs per input partition with no shuffle before it;
    the only exchanges are the downstream groupBy and order.
    """
    from pyspark.sql.functions import udtf

    # useArrow: rows cross the Python boundary as Arrow batches
    # (ArrowEvalPythonUDTF) instead of pickled row-at-a-time
    # (BatchEvalPythonUDTF) — same contract, vectorized transfer
    @udtf(returnType="token: string, pos: int", useArrow=True)
    class Tokenize:
        def eval(self, text: str):  # noqa: D102 — UDTF contract method
            if text is None:
                return
            pos = 0
            for tok in text.lower().split():
                if tok:
                    yield tok, pos
                    pos += 1

    spark.udtf.register("mgs_tokenize", Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_documents"
    )
    return spark.sql(
        """
        SELECT t.token,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(t.pos), 6) AS avg_pos
        FROM udtf_documents d, LATERAL mgs_tokenize(d.text) t
        GROUP BY t.token
        ORDER BY t.token
        """
    )
