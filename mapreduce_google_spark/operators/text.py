"""Text-processing operators — the reference's native query surface.

Reference lineage: word count (``tests/testdata/exec/wc_map.sh:12``,
``wc_reduce.sh:14``), grep (``tests/testdata/exec/grep_map.py:14-28``),
identity/`cat` (``tests/test_worker_11.py:38``), and the md5 hash
partitioner (``mapreduce/worker/__main__.py:62-65``). Each is re-expressed
as a declarative plan: tokenize/filter run inside whole-stage codegen, the
only shuffle is the final aggregation/sort, and partial (map-side)
aggregation comes free from Catalyst — strictly better than the reference,
which has no combiner (SURVEY.md §2c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_google_spark.functions.hashing import md5_bucket
from mapreduce_google_spark.functions.text import tokens_of
from mapreduce_google_spark.io import load_table


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T01 — count of each lowercased whitespace token of documents.text.

    scan → explode(split(lower)) → hash-agg (partial+final) → range-sort.
    This is the reference's entire dataflow (F1→F8) in one declarative plan;
    at 100 TB the token-count shuffle carries only (token, partial_count)
    pairs thanks to map-side partial aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        tokens_of(docs, "text")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("token")
    )


def grep(spark: SparkSession, sf_dir: str, query: str = "product") -> DataFrame:
    """T02 — case-insensitive substring filter over documents.text.

    Reference ``grep_map.py:27`` keeps lines with `query in line.lower()`
    (default query "product", ``grep_map.py:14-15``) and drops blank lines;
    ``grep_reduce.py:24-27`` projects the line back out. Here it is a
    σ+π that Catalyst pushes into the parquet scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.length(F.col("text")) > 0)
        .where(F.lower(F.col("text")).contains(query.lower()))
        .select("doc_id", "text")
        .orderBy("doc_id")
    )


def identity_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T03 — pass-through scan ordered by doc_id (reference `cat` mapper)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "text", "lang", "source", "n_chars").orderBy("doc_id")


def md5_partition_histogram(
    spark: SparkSession, sf_dir: str, num_buckets: int = 8
) -> DataFrame:
    """T04 — rows per reference-compatible md5 partition bucket.

    Reproduces the reference partition function
    ``int(md5(key).hexdigest(),16) % num_partitions``
    (``worker/__main__.py:62-65``) as a JVM-side expression over tokens and
    histograms the bucket assignment — byte-identical bucketing without a
    Python partitioner.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_of(docs, "text")
    return (
        toks.select(md5_bucket(F.col("token"), num_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("bucket")
    )


def distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T05 — exact distinct token count (partial-agg'd count distinct)."""
    docs = load_table(spark, sf_dir, "documents")
    return tokens_of(docs, "text").agg(
        F.count_distinct(F.col("token")).cast("long").alias("n_tokens")
    )


def top_k_tokens(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """T06 — top-k tokens by count, ties broken by token asc.

    orderBy+limit compiles to TakeOrderedAndProject: each partition keeps a
    k-element heap and only k rows per partition reach the driver — no
    global sort even at 100 TB.
    """
    counts = (
        tokens_of(load_table(spark, sf_dir, "documents"), "text")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)


def approx_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T39 — approximate distinct-token count via HyperLogLog++.

    The sketch is tiny (KB), mergeable, and single-pass — the partial
    sketches combine map-side, so the shuffle carries one sketch per
    partition instead of every distinct token (T05's exact variant
    shuffles the full token set). rsd=0.01 targets 1% relative error;
    tests assert the estimate lands within 2% of the exact count.
    Rows-only for the driver: HLL internals aren't SQL-portable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_of(docs)
    return toks.agg(
        F.approx_count_distinct("token", rsd=0.01).alias("approx_n_tokens")
    )


def chunk_documents(
    spark: SparkSession, sf_dir: str, chunk_tokens: int = 50, stride: int = 40
) -> DataFrame:
    """T63 — sliding token-window chunking of ``documents.text``.

    The context-window preparation pass of every RAG / pretraining
    pipeline: each document becomes ceil(max(n-chunk,0)/stride)+1 chunks
    of ``chunk_tokens`` tokens starting every ``stride`` tokens (overlap
    = chunk_tokens - stride; the final partial window is kept).

    Scale: entirely narrow — tokenize once per row, build chunk start
    offsets with ``sequence``, slice with a higher-order ``transform``,
    one ``explode``. No shuffle until the output sort; no Python. Shuffle
    volume is chunk metadata (doc_id, offsets, text), the same order as
    the input bytes × overlap factor.
    """
    from mapreduce_google_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(tokenize("text"), lambda t: t != "").alias("tokens"),
    ).withColumn("n", F.size("tokens"))
    # chunk start offsets 0, stride, 2*stride, … while start < n (≥1 chunk
    # even for empty docs keeps every doc represented exactly once)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            (F.col("n") - 1) - ((F.col("n") - 1) % stride), F.lit(0)
        ),
        F.lit(stride),
    )
    chunks = toks.select(
        "doc_id",
        "n",
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.slice(F.col("tokens"), s + 1, chunk_tokens),
            )
        ).alias("chunk_id", "chunk"),
    )
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


def pack_documents(
    spark: SparkSession, sf_dir: str, budget: int = 256, num_shards: int = 16
) -> DataFrame:
    """T64 — greedy sequence packing: fill training sequences up to a
    token ``budget`` with whole documents (first-fit in doc_id order).

    Globally-optimal packing is inherently sequential, so the scalable
    form shards by hash(doc_id) into a FIXED shard count and packs each
    shard independently — deterministic regardless of cluster size,
    parallel across shards, and within ~1 doc/shard of the sequential
    greedy result. Packing itself is Arrow-batched ``mapInPandas`` (the
    greedy scan is genuinely imperative); token counting stays JVM-side.
    At 100 TB pick num_shards so one shard's metadata (doc_id + count,
    not text) fits an executor — the pandas side never sees the text.

    Output: one row per pack (shard-scoped ids), rows-only checked +
    invariant-tested (every doc exactly once, packs within budget).
    """
    from mapreduce_google_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.filter(tokenize("text"), lambda t: t != "")).alias("n_tokens"),
    )
    sharded = toks.repartition(num_shards, "doc_id").withColumn(
        "shard", F.spark_partition_id()
    )

    def pack(batches):
        import pandas as pd

        pdf = pd.concat(list(batches), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        packs = []  # (pack_local, doc_id, n_tokens)
        pack_local, filled = 0, 0
        for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
            if filled > 0 and filled + n > budget:
                pack_local += 1
                filled = 0
            packs.append((pack_local, doc_id, n))
            filled += n
        out = pd.DataFrame(
            packs, columns=["pack_local", "doc_id", "n_tokens"]
        )
        out["pack_id"] = shard * 1_000_000 + out["pack_local"]
        yield out[["pack_id", "doc_id", "n_tokens"]]

    assigned = sharded.mapInPandas(
        pack, schema="pack_id long, doc_id long, n_tokens long"
    )
    return (
        assigned.groupBy("pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("pack_id")
    )


def pysource_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T119 — T01 word count read through the pluggable Python
    DataSource (:mod:`mapreduce_google_spark.kvtext`): documents.text is
    staged once as a reference-format text dir, loaded via
    ``format("kvtext")`` (one input partition per file = one reference
    map task), tokenized and counted.

    Must hash-equal T01 computed straight from parquet — proving the
    custom source round-trips the reference's storage contract
    losslessly. The Python reader is the compatibility tier (see module
    docstring); the aggregation above it is the same JVM hash-agg as T01.
    """
    from mapreduce_google_spark.io import derived_dir, write_once, write_text_dir
    from mapreduce_google_spark.kvtext import read_kvtext

    staged = write_once(
        derived_dir("kvsrc_docs", sf_dir, "documents"),
        lambda path: write_text_dir(
            load_table(spark, sf_dir, "documents").select("text"),
            path,
            num_files=4,
        ),
    )
    lines = read_kvtext(spark, staged)
    toks = F.filter(F.split(F.lower("key"), r"\s+"), lambda t: t != "")
    return (
        lines.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("token")
    )


def approx_distinct_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T164 — SQL-checkable error bound for T39's HyperLogLog++ sketch
    (HLL internals aren't SQL-portable, but its error bound is): the
    estimate must land within 3× the configured relative standard
    deviation of the EXACT distinct count (t05's semantics, re-computed
    here engine-side; the oracle re-derives the exact count and the
    zeros independently).

    - ``bound_violations = 0`` — |approx − exact| ≤ 3·rsd·exact;
    - ``exact_n_tokens`` — the exact count, hash-checked against SQL;
    - ``found_nonempty = 1`` — non-vacuity anchor.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_of(docs)
    both = toks.agg(
        F.approx_count_distinct("token", rsd=0.01).alias("approx"),
        F.countDistinct("token").alias("exact"),
    )
    return both.select(
        F.when(
            F.abs(F.col("approx") - F.col("exact"))
            <= 3 * 0.01 * F.col("exact"),
            0,
        )
        .otherwise(1)
        .cast("long")
        .alias("bound_violations"),
        F.col("exact").cast("long").alias("exact_n_tokens"),
        F.when(F.col("exact") > 0, 1).otherwise(0).cast("long").alias(
            "found_nonempty"
        ),
    )


def kvtext_roundtrip_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T219 — the pluggable SINK's registered correctness row: the T01
    word count is written through the kvtext Python DataSource writer
    (reference part-NNNNN key\\tvalue files, exactly-once tmp-rename
    commit), read back through the kvtext READER, and re-emitted — the
    result must hash-equal the T01 oracle, proving the full
    export→import loop preserves every (token, count) record, including
    empty keys/values. (Embedded tabs-in-values also round-trip — the
    reader splits on the FIRST tab only — but tabs in keys and newlines
    anywhere are unrepresentable in the line format; the writer
    validates and raises on those rather than corrupting records.)
    """
    from mapreduce_google_spark.io import derived_dir
    from mapreduce_google_spark.kvtext import read_kvtext, write_kvtext

    counts = word_count(spark, sf_dir).select(
        F.col("token").alias("key"), F.col("cnt").cast("string").alias("value")
    )
    out = derived_dir("kv_roundtrip", sf_dir, "documents")
    write_kvtext(counts, out)
    return (
        read_kvtext(spark, out)
        .select(F.col("key").alias("token"), F.col("value").cast("long").alias("cnt"))
        .orderBy("token")
    )
