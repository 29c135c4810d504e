"""Text-analysis operators: stats, language-ID, quality scoring, token
counting, document fingerprinting.

All per-row expressions compile to whole-stage codegen; the only shuffles
are the declared groupBys. Every operator here is SQL-expressible, so each
has a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_google_spark.functions.hashing import rolling_hash
from mapreduce_google_spark.functions.text import tokenize
from mapreduce_google_spark.io import load_table

#: marker-word profiles for the heuristic language scorer. Deliberately
#: tiny and deterministic — a real model would be a broadcast lookup table
#: with the same plan shape.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("的", "是", "了", "在"),
}

#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19 — per-lang doc count, mean n_chars, total token count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize("text"), lambda t: t != "")
    return (
        docs.select("lang", "n_chars", F.size(toks).cast("long").alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("mean_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


def _marker_hits(tokens: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*markers))).cast("long")


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: argmax of marker-word hits per language,
    ties broken by language code asc, zero hits → 'und'.

    The argmax over a small fixed set of scores is expressed with
    ``greatest`` + chained ``when`` — pure codegen, no shuffle. The plan
    shape generalizes to an n-gram-profile scorer as a broadcast join.
    """
    docs = load_table(spark, sf_dir, "documents")
    # staged select: one tokenize per row, not one per language score
    # (no CSE across projection expressions — the t222/t27 measurement)
    arrays = docs.select(
        "doc_id", "lang", F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    )
    with_scores = arrays.select(
        "doc_id",
        "lang",
        *[
            _marker_hits(F.col("toks"), markers).alias(f"score_{lang}")
            for lang, markers in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    # first (asc) language reaching the max wins — build when-chain in
    # reverse so earlier langs take precedence
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return with_scores.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    ).orderBy("doc_id")


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals: length, punctuation ratio, stopword ratio,
    mean token length, and a blended 0–1 score.

    Mirrors the usual pretraining-data quality gates (C4/Gopher-style
    length + symbol + stopword heuristics) as pure column math.
    """
    docs = load_table(spark, sf_dir, "documents")
    # STAGED selects (same reason as intradoc_repetition, measured
    # there): materialize the token array and the integer counts as
    # named columns so the tokenize pipeline runs once per row — the
    # previous inline form re-evaluated filter(split(lower(text))) in
    # every expression that referenced n_tokens/stop_hits/mean_tok_len.
    arrays = docs.select(
        "doc_id", "text", F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    )
    counts = arrays.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (
            F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
        ).cast("long").alias("n_punct"),
        F.size(
            F.filter(
                "toks",
                lambda t: t.isin("the", "a", "of", "and", "der", "el", "la"),
            )
        ).cast("long").alias("stop_hits"),
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("tok_len_sum"),
    )
    n_tokens = F.col("n_tokens")
    n_chars = F.col("n_chars")
    mean_tok_len = F.when(
        n_tokens > 0, F.col("tok_len_sum") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, F.col("n_punct") / n_chars.cast("double")
    ).otherwise(0.0)
    stop_ratio = F.when(
        n_tokens > 0, F.col("stop_hits") / n_tokens.cast("double")
    ).otherwise(0.0)
    length_ok = (n_tokens >= 5) & (n_tokens <= 100000)
    score = (
        F.when(length_ok, 0.4).otherwise(0.0)
        + F.when(punct_ratio < 0.2, 0.3).otherwise(0.0)
        + F.when(stop_ratio > 0.01, 0.3).otherwise(0.0)
    )
    return counts.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(score, 6).alias("quality"),
    ).orderBy("doc_id")


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish pre-token count per document.

    The BPE-ish count (letter runs / digit runs / single symbols) is the
    standard proxy for LLM token budgeting; ``regexp_count`` keeps it
    JVM-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(tokenize("text"), lambda t: t != "")).cast("long")
    bpe = F.regexp_count(F.col("text"), F.lit(BPE_RE)).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
    ).orderBy("doc_id")


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint of the normalized text
    (lower+trim), base 257 mod 2^61-1 — content-addressable dedup key
    that, unlike md5, supports incremental/windowed computation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        rolling_hash(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
    ).orderBy("doc_id")


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T67 — corpus-trained bigram LM quality score per document.

    The classic statistical quality filter for pretraining corpora: train
    add-one-smoothed bigram conditional probabilities P(w2|w1) on the
    corpus itself, then score each document by its mean bigram
    probability — documents made of improbable token transitions
    (boilerplate noise, mojibake, shuffled text) score low.

    Dataflow (all JVM-side): tokens → per-doc bigram instances (narrow
    array zip, no shuffle) → two hash-aggs (bigram counts, unigram
    counts) → equi-join instances back to their probabilities → per-doc
    mean. At 100 TB the count tables are large, so the joins shuffle on
    the bigram/unigram key — the exact shape of a distributed LM count
    build (map-side combine collapses repeats before every exchange).

    Determinism: P = (c12+1)/(c1+V) is ONE IEEE division of two exact
    longs (identical in any engine), quantized to decimal(20,12) and
    exact-summed per doc, so accumulation order can't move the hash
    (functions/numeric.py recipe).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(tokenize("text"), lambda t: t != "").alias("toks"),
    )
    sz = F.size("toks")
    pairs = F.arrays_zip(
        F.slice("toks", 1, sz - 1).alias("w1"),
        F.slice("toks", 2, sz - 1).alias("w2"),
    )
    bigrams = (
        toks.where(sz >= 2)
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c12 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        docs.select(F.explode(tokenize("text")).alias("t"))
        .where(F.col("t") != "")
        .agg(F.countDistinct("t").alias("v"))
    )
    prob = (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast(
        "double"
    )
    scored = (
        bigrams.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", prob.cast("decimal(20,12)").alias("p"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("p").cast("double") / F.count("p"), 6).alias("lm_score"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T69 — per-document repetition signals (Gopher-style quality gate):
    duplicate-trigram fraction and most-frequent-trigram share.

    Machine-generated/spammy text repeats itself; these two ratios are
    the standard cheap detectors. Dataflow: per-doc trigram INSTANCES
    (narrow array zip — unlike the dedup shingles, repeats are the
    signal, so no array_distinct) → one hash-agg to (doc, trigram)
    counts → one hash-agg to per-doc {total, distinct, max}. Both ratios
    are single IEEE divisions of exact longs, so no accumulation-order
    hazard at any scale; map-side combine collapses repeated trigrams
    before each exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    )
    sz = F.size("toks")
    zipped = F.arrays_zip(
        F.col("toks").alias("t0"),
        F.slice("toks", 2, sz).alias("t1"),
        F.slice("toks", 3, sz).alias("t2"),
    )
    tris = toks.where(sz >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(zipped, 1, sz - 2),
                lambda st: F.concat_ws(" ", st["t0"], st["t1"], st["t2"]),
            )
        ).alias("tri"),
    )
    per_tri = tris.groupBy("doc_id", "tri").agg(F.count("*").alias("c"))
    total = F.sum("c").cast("double")
    return (
        per_tri.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_trigrams"),
            F.round(F.lit(1.0) - F.count("*") / total, 6).alias("dup_frac"),
            F.round(F.max("c") / total, 6).alias("top_share"),
        )
        .orderBy("doc_id")
    )


def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T70 — training-mix report: document/token counts and corpus share
    per (source, lang) cell.

    The table every pretraining run starts from (and the input to t57's
    stratified rebalancing): how much data each source contributes, in
    tokens, and what fraction of the corpus that is. One narrow token
    count per doc, one hash-agg on a low-cardinality key, and the corpus
    total joined back as a broadcast scalar — no window-over-everything
    (a global window would serialize on one task at scale). Shares are
    single divisions of exact longs: deterministic at any partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "lang",
        F.size(F.filter(tokenize("text"), lambda t: t != "")).alias("n"),
    )
    cells = per_doc.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    total = cells.agg(F.sum("n_tokens").alias("total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("total").cast("double"), 6).alias(
                "token_share"
            ),
        )
        .orderBy("source", "lang")
    )


def vocab_coverage(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """T80 — vocabulary report: top-``k`` tokens by corpus frequency with
    per-token share and CUMULATIVE coverage share (the "how big must the
    vocab be to cover X% of tokens" curve that sizes every tokenizer).

    Scale shape: token counts partial-aggregate map-side; the top-k is
    ``TakeOrderedAndProject`` (per-partition heaps), NEVER a full sort
    of the vocabulary — a real corpus has 10^8 distinct tokens and only
    the k winners leave the executors. The cumulative sum then runs as a
    window over just those k driver-bound rows (a few KB): the prefix
    sums of the global rank order depend only on the rows above rank k,
    which are exactly the rows kept. Total token mass comes from one
    scalar aggregate, broadcast into the projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("token")).where(
        F.col("token") != ""
    )
    # cached: BOTH the top-k heap and the scalar total read the counts —
    # one tokenize+agg pass over the corpus, not two
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("n")).cache()
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    topk = counts.orderBy(F.col("n").desc(), "token").limit(k)
    w = (
        Window.orderBy(F.col("n").desc(), "token")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        topk.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(Window.orderBy(F.col("n").desc(), "token")).alias("rank"),
            "token",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.sum("n").over(w) / F.col("total"), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T105 — corpus length profile: documents cut into 10 equal-count
    buckets by character length (``ntile`` over a total order), per-decile
    count / min / max / exact-decimal mean.

    The pre-training curriculum/filtering view ("what does the tail look
    like"). Determinism: ntile orders by (n_chars, doc_id) — a total
    order. Scale: single window pass + 10-group agg; at 100 TB swap the
    exact ntile for approx_percentile cuts, same output schema.
    """
    docs = load_table(spark, sf_dir, "documents")
    decile = F.ntile(10).over(
        Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    )
    return (
        docs.select("doc_id", "n_chars", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(20,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_chars"),
        )
        .orderBy("decile")
    )


def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T106 — per-document lexical diversity: token count, distinct
    types, hapax legomena (tokens occurring once), type-token ratio.

    The repetition/quality signal family (template spam has low TTR).
    Scale: explode → (doc, token) hash-agg → doc-grain re-agg; both
    shuffles key on doc_id so AQE coalesces them; the token column never
    leaves the first agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(tokenize("text"), lambda t: t != "")).alias("token"),
    )
    per_token = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("c")
    )
    return (
        per_token.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .withColumn(
            "ttr",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 6
            ),
        )
        .orderBy("doc_id")
    )


def source_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T107 — per (source, lang) corpus composition: doc count, exact
    mean token count, exact mean char length — the mix report a data
    curator reads before weighting sources.

    Scale: one narrow projection (token count via HOF size, no explode)
    into a (sources × langs)-group hash-agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.filter(tokenize("text"), lambda t: t != "")).alias("n_toks"),
    )
    return (
        with_counts.groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("n_toks").cast("decimal(20,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_tokens"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(20,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_chars"),
        )
        .orderBy("source", "lang")
    )


#: deliberately tiny deterministic stopword list (mirrors LANG_MARKERS
#: honesty: a real list is a broadcast lookup with the same plan shape)
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")


def stopword_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T108 — quality-filter audit per source: docs pass when their
    stopword ratio sits in a sane band (natural prose) and they clear a
    minimum length; report pass counts and rate.

    Scale: ratio is a per-row HOF fold (no explode, no shuffle); one
    hash-agg on source. The thresholds are the standard C4/Gopher-style
    heuristic band.
    """
    docs = load_table(spark, sf_dir, "documents")
    # staged select: tokenize once per row (no CSE across projection
    # expressions — the t222/t27 measurement)
    arrays = docs.select(
        "source", F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    )
    n_stop = F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS)))
    with_ratio = arrays.select(
        "source",
        F.size("toks").alias("n_toks"),
        (n_stop.cast("double") / F.size("toks")).alias("stop_ratio"),
    )
    passed = (
        (F.col("n_toks") >= 10)
        & (F.col("stop_ratio") >= 0.05)
        & (F.col("stop_ratio") <= 0.6)
    )
    return (
        with_ratio.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(passed, 1).otherwise(0)).cast("long").alias("n_pass"),
        )
        .withColumn(
            "pass_rate",
            F.round(F.col("n_pass").cast("double") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


def feature_hashing(spark: SparkSession, sf_dir: str, n_buckets: int = 64) -> DataFrame:
    """T112 — the hashing trick: tokens of each document folded into a
    fixed ``n_buckets``-dim count vector via md5 bucketing, emitted as
    sparse (doc_id, bucket, count) rows.

    The vocabulary-free vectorizer for training-data prep: no global
    dictionary build (the step that doesn't scale), collisions accepted
    by construction. Bucketing reuses the reference's md5 arithmetic
    (functions.hashing.md5_bucket — JVM-side, power-of-two tail-digit
    form), so Spark and DuckDB agree exactly. One explode + one
    (doc, bucket) hash-agg; the token string never leaves the map side.
    Restricted to doc_id < 100 to keep the driver compare tight.
    """
    from mapreduce_google_spark.functions.hashing import md5_bucket

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(tokenize("text"), lambda t: t != "")).alias("token"),
    )
    return (
        toks.select("doc_id", md5_bucket("token", n_buckets).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("doc_id", "bucket")
    )


def token_pmi(
    spark: SparkSession, sf_dir: str, min_count: int = 10
) -> DataFrame:
    """T126 — collocation mining: pointwise mutual information of
    adjacent token pairs over the corpus.

    PMI(w1,w2) = ln P(w1,w2) − ln P(w1) − ln P(w2) with bigram and
    unigram probabilities from corpus counts — the standard collocation
    score a phrase-extraction pass computes before tokenizer training.
    Dataflow: one narrow pass builds per-doc bigram arrays (HOF
    ``transform`` over the token array, zero shuffle), then two
    hash-aggs (bigram counts, unigram counts) and a broadcast-joined
    scalar total. Determinism: every count is an exact BIGINT; PMI is
    evaluated as a fixed left-to-right sum of five ``ln`` terms —
    ln(c12) − ln(c1) − ln(c2) − ln(N2) + 2·ln(N1) — so DuckDB computes
    the identical IEEE value.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    tokened = docs.select(toks.alias("tokens")).where(F.size("tokens") >= 2)
    bigrams = tokened.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("tokens") - 2),
                lambda i: F.struct(
                    F.col("tokens")[i].alias("w1"),
                    F.col("tokens")[i + 1].alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    unigrams = docs.select(F.explode(toks).alias("w"))
    # the count tables are at most vocab / vocab² rows — pin them with
    # localCheckpoint so the totals, the filtered pair set, and both
    # broadcast sides all read the SAME materialized counts: the corpus
    # is scanned exactly twice (unigrams, bigrams) at any scale, and the
    # totals are exact BIGINT sums of the pinned counts (identical values
    # to counting the raw rows).
    uni_counts = (
        unigrams.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint()
    )
    bg_all = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint()
    )
    n1 = uni_counts.agg(F.sum("c").alias("n1"))
    n2 = bg_all.agg(F.sum("c12").alias("n2"))
    bg_counts = bg_all.where(F.col("c12") >= min_count)
    c1 = uni_counts.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni_counts.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        F.log(F.col("c12").cast("double"))
        - F.log(F.col("c1").cast("double"))
        - F.log(F.col("c2").cast("double"))
        - F.log(F.col("n2").cast("double"))
        + F.lit(2.0) * F.log(F.col("n1").cast("double"))
    )
    return (
        bg_counts.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy("w1", "w2")
    )


def bpe_pair_counts(
    spark: SparkSession, sf_dir: str, k: int = 50
) -> DataFrame:
    """T129 — BPE merge candidates: the top-k most frequent adjacent
    character pairs in the corpus (whitespace-crossing pairs excluded).

    This is the counting kernel of byte-pair-encoding tokenizer
    training — each BPE iteration merges the argmax of exactly this
    table. One narrow per-row pass builds the pair array (HOF, no
    Python), one hash-agg counts, ``TakeOrderedAndProject`` keeps the
    driver result at k rows. At 100 TB the agg state is bounded by the
    alphabet² (tiny), so the whole job is scan-dominated — the shape a
    tokenizer-training pre-pass needs.

    Total order: count desc, then pair asc — stable under any
    partitioning.

    Plan note (r18 repair, results-identical): the split MUST be
    projected to a named column before the transform references it —
    the lambda reads the array twice per element (``chars[i]``,
    ``chars[i+1]``), and inlining the unnamed ``split(lower(text),'')``
    there makes Catalyst re-evaluate the full split per element access:
    O(len²) per row, measured 11.7× at sf0.01 and 477 s at sf1 in the
    r17 registry sweep (split probe — the named column
    is evaluated once per row; CollapseProject does not re-inline a
    non-cheap expression referenced 3×).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("chars") - 2),
        lambda i: F.concat(F.col("chars")[i], F.col("chars")[i + 1]),
    )
    return (
        docs.where(F.length("text") >= 2)
        .select(F.split(F.lower("text"), "").alias("chars"))
        .select(F.explode(pairs).alias("pair"))
        .where(~F.col("pair").contains(" "))
        .groupBy("pair")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(k)
    )


def curation_funnel(
    spark: SparkSession,
    sf_dir: str,
    quality_threshold: float = 0.65,
    langs: tuple[str, ...] = ("en", "de", "es"),
) -> DataFrame:
    """T136 — the curation pipeline as ONE query: per-source retention
    through the standard pretraining gates, applied cumulatively —

    1. language keep-list (``lang`` ∈ {en, de, es});
    2. quality score ≥ threshold (the t27 composite);
    3. exact-dedup winner (lowest doc_id of the fingerprint group,
       computed corpus-wide as a real pipeline does).

    The funnel-over-the-pipeline view a data team reads before a
    training run: where does each source lose documents? One scan + the
    quality pass + a fingerprint window; all counts conditional sums in
    a single hash-agg on source. The threshold 0.65 sits between the
    composite's reachable values (…, 0.6, 0.7, …) so float ulp can't
    flip a gate.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    flags = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
        )
        .withColumn(
            "keep_dedup",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("fingerprint")),
        )
        .join(quality, "doc_id")
    )
    lang_ok = F.col("lang").isin(*langs)
    qual_ok = lang_ok & (F.col("quality") >= quality_threshold)
    uniq_ok = qual_ok & F.col("keep_dedup")
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.count(F.when(lang_ok, 1)).cast("long").alias("n_lang_ok"),
            F.count(F.when(qual_ok, 1)).cast("long").alias("n_quality_ok"),
            F.count(F.when(uniq_ok, 1)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """T138 — per-document top-k TF-IDF terms (keyword extraction).

    tf is the in-document term count, idf = ln(N / df) with df the
    corpus document frequency; scoring ranks on the ROUNDED score with a
    term-asc tiebreak so the cut is deterministic on both engines.

    Scale shape — ONE corpus scan: tf is one (doc, term) hash-agg off
    the token explode, and document frequency comes from a COUNT window
    partitioned by term over that same aggregated postings table (no
    tf⋈df self-join, which would scan the 100 TB corpus twice); the
    corpus size N rides in as a broadcast single-row aggregate. The only
    per-document work after that is a bounded top-k window. Both windows
    run on the postings table (vocabulary × doc grain), never raw token
    occurrences.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.filter(tokenize("text"), lambda t: t != "")).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    wdf = Window.partitionBy("term")
    n = docs.groupBy().agg(F.count("*").cast("double").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        tf.withColumn("df", F.count("*").over(wdf))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", F.col("rnk").cast("integer").alias("rnk"), "term", "tfidf")
        .orderBy("doc_id", "rnk")
    )


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T142 — Zipf's-law fit of the token frequency distribution: the
    least-squares slope/intercept of ln(freq) against ln(rank) — the
    exponent a healthy natural-language corpus keeps near -1, and a
    fast drift detector for synthetic or template-heavy data.

    Determinism: per-point ln/products are IEEE doubles quantized to
    decimal(20,12) BEFORE the regression sums (order-independent), then
    the closed-form slope/intercept is a fixed sequence of double ops.
    Scale shape: the frequency table is vocabulary-sized, so the global
    rank window runs on one vocab-sized partition after a
    map-side-combined token count — the 100 TB cost is the token scan,
    not the fit.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.filter(tokenize("text"), lambda t: t != "")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    dec = lambda c: c.cast("decimal(20,12)")  # noqa: E731
    pts = counts.withColumn("r", F.row_number().over(w)).select(
        dec(F.log(F.col("r").cast("double"))).alias("x"),
        dec(F.log(F.col("freq").cast("double"))).alias("y"),
        dec(
            F.log(F.col("r").cast("double")) * F.log(F.col("freq").cast("double"))
        ).alias("xy"),
        dec(
            F.log(F.col("r").cast("double")) * F.log(F.col("r").cast("double"))
        ).alias("xx"),
    )
    s = pts.groupBy().agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


def heldout_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T150 — decontaminated LM quality filter: an add-one bigram LM is
    trained ONLY on the train split (md5 bucket < 80, t51's assignment)
    and scores the VAL split (bucket 80–89) by mean negative
    log-likelihood per document, reported per source — the CCNet-style
    perplexity filter, with the train/test separation a real pipeline
    needs so the filter never scores its own training text.

    NLL(w1,w2) = ln(c1+V) − ln(c12+1) over train counts (unseen
    contexts fall back to c=0 — the add-one floor). Each per-bigram NLL
    is one fixed ln-difference of exact longs, quantized to
    decimal(20,12); the per-doc mean and per-source macro-mean are each
    a single IEEE division of deterministic operands. Plan shape: two
    train-side hash-aggs, val bigrams LEFT-joined to them on the
    bigram/unigram key (map-side combine before every exchange), V
    broadcast as one row — the exact distributed LM-count build of t67
    plus split separation.
    """
    from mapreduce_google_spark.operators.sampling import hash_bucket100

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "bucket", hash_bucket100("doc_id")
    )
    toks = lambda d: d.select(  # noqa: E731
        "doc_id",
        "source",
        F.filter(tokenize("text"), lambda t: t != "").alias("toks"),
    )
    sz = F.size("toks")
    pairs = F.arrays_zip(
        F.slice("toks", 1, sz - 1).alias("w1"),
        F.slice("toks", 2, sz - 1).alias("w2"),
    )
    bigrams = lambda d: (  # noqa: E731
        toks(d)
        .where(sz >= 2)
        .select("doc_id", "source", F.explode(pairs).alias("bg"))
        .select(
            "doc_id", "source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        )
    )
    train = docs.where(F.col("bucket") < 80)
    val = docs.where((F.col("bucket") >= 80) & (F.col("bucket") < 90))
    tb = bigrams(train)
    c12 = tb.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = tb.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        train.select(F.explode(tokenize("text")).alias("t"))
        .where(F.col("t") != "")
        .agg(F.countDistinct("t").alias("v"))
    )
    nll = F.log((F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")) - F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
    )
    per_doc = (
        bigrams(val)
        .join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "source", nll.cast("decimal(20,12)").alias("nll"))
        .groupBy("doc_id", "source")
        .agg(
            (F.sum("nll").cast("double") / F.count("*"))
            .cast("decimal(20,12)")
            .alias("doc_nll")
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_val_docs"),
            F.round(F.sum("doc_nll").cast("double") / F.count("*"), 6).alias(
                "mean_nll"
            ),
        )
        .orderBy("source")
    )


def rare_token_docs(spark: SparkSession, sf_dir: str, k_rarest: int = 5) -> DataFrame:
    """T163 — OOV / mojibake detector, corpus-relative form: documents
    containing any of the corpus's ``k_rarest`` lowest-frequency tokens
    (freq asc, token asc — deterministic cut), with the rare-token count
    and an example. A relative threshold stays non-vacuous on ANY corpus
    — an absolute "frequency ≤ 2" rule silently matches nothing on a
    closed-vocabulary corpus like the test fixture, which is exactly the
    failure mode a screen must not have.

    Single-scan shape: token occurrence counts (vocabulary-sized), the
    k-rarest cut via TakeOrdered, broadcast back onto the postings.
    """
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        F.explode(F.filter(tokenize("text"), lambda t: t != "")).alias("token"),
    )
    counts = occ.groupBy("token").agg(F.count("*").cast("long").alias("freq"))
    rare = counts.orderBy(F.col("freq").asc(), F.col("token").asc()).limit(k_rarest)
    return (
        occ.join(F.broadcast(rare.select("token")), "token")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("token").cast("long").alias("n_rare_tokens"),
            F.min("token").alias("example_token"),
        )
        .orderBy("doc_id")
    )


def curated_corpus(
    spark: SparkSession,
    sf_dir: str,
    quality_threshold: float = 0.65,
    langs: tuple[str, ...] = ("en", "de", "es"),
) -> DataFrame:
    """T166 — the curation pipeline's OUTPUT (t136 reports the funnel;
    this emits the kept documents themselves): language keep-list ∧
    quality ≥ threshold ∧ exact-dedup winner, i.e. the table a training
    run actually reads. `cli.py curate` writes exactly this DataFrame.

    Same one-scan shape as the funnel — quality signals are codegen
    column math, the dedup winner is one fingerprint window — followed
    by a filter instead of an aggregation, so the 100 TB cost is the
    scan plus one fingerprint shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    flags = (
        docs.select("doc_id", "source", "lang", "n_chars", "text")
        .withColumn("fingerprint", F.md5(F.lower(F.trim(F.col("text")))))
        .withColumn(
            "keep_dedup",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("fingerprint")),
        )
        .join(quality, "doc_id")
    )
    kept = flags.where(
        F.col("lang").isin(*langs)
        & (F.col("quality") >= quality_threshold)
        & F.col("keep_dedup")
    )
    return kept.select(
        "doc_id", "source", "lang", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("doc_id")


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T181 — per-document character-distribution Shannon entropy: the
    compression-based curation signal — mojibake and binary junk spike
    it, templated/repetitive text craters it; real prose sits in a
    narrow band. (The practical stand-in for "would gzip find this
    text suspicious".)

    One explode to (doc, char) counts, then entropy from exact counts:
    each −(c/n)·ln(c/n) term is a fixed IEEE expression of two exact
    longs, quantized to decimal(20,12) before the per-doc sum. Shuffle
    carries (doc, char) rows — alphabet-bounded per doc, not text
    length.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    wd = Window.partitionBy("doc_id")
    term = (
        -(F.col("c").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
    ).cast("decimal(20,12)")
    return (
        counts.withColumn("n", F.sum("c").over(wd))
        .select("doc_id", term.alias("term"), F.col("n"))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.round(F.sum("term").cast("double"), 6).alias("entropy"),
        )
        .orderBy("doc_id")
    )


def token_burstiness(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """T182 — token burstiness: the variance-to-mean ratio (Fano factor)
    of per-document counts for the top-k corpus tokens — function words
    hover near Poisson (ratio ≈ 1), content/boilerplate words are
    bursty (≫ 1). A vocabulary diagnostic for stopword-list induction.

    Per-doc counts are exact; per-token moments come from exact decimal
    sums over the DOC-GRAIN count table (zeros included via the corpus
    doc count, not a dense join: Σc and Σc² over missing docs are 0, so
    only n needs the global count). Top-k cut is TakeOrdered on the
    vocabulary-sized frequency table.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id",
            F.explode(F.filter(tokenize("text"), lambda t: t != "")).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    totals = per_doc.groupBy("token").agg(F.sum("c").cast("long").alias("freq"))
    top = totals.orderBy(F.col("freq").desc(), F.col("token")).limit(k)
    n_docs = docs.groupBy().agg(F.count("*").cast("double").alias("n_docs"))
    moments = (
        per_doc.join(F.broadcast(top.select("token")), "token")
        .groupBy("token")
        .agg(
            F.sum(F.col("c").cast("decimal(20,0)")).cast("double").alias("sc"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(20,0)"))
            .cast("double")
            .alias("scc"),
        )
        .crossJoin(F.broadcast(n_docs))
    )
    mean = F.col("sc") / F.col("n_docs")
    var = F.col("scc") / F.col("n_docs") - mean * mean
    return (
        moments.select(
            "token",
            F.col("sc").cast("long").alias("total_count"),
            F.round(mean, 6).alias("mean_per_doc"),
            F.round(var / mean, 6).alias("burstiness"),
        )
        .orderBy("token")
    )


def vocab_mass_cut(
    spark: SparkSession, sf_dir: str, mass: float = 0.95
) -> DataFrame:
    """T186 — vocabulary truncation by cumulative mass: rank tokens by
    corpus frequency and keep the prefix covering 95% of token
    occurrences — how a bounded vocabulary (or a BPE merge budget) is
    chosen; the long tail becomes <unk>.

    One token-count hash-agg, then windows over the VOCABULARY-sized
    table only: a running sum in rank order (freq desc, token asc for
    determinism) against the exact integer total. A token is kept while
    the running mass BEFORE it is below the target, so the cut token
    itself is included — integer cross-multiplication (cum·1 vs
    mass·total as exact scaled integers) keeps the comparison float-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.filter(tokenize("text"), lambda t: t != "")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    mass_scaled = int(round(mass * 100))  # 95 — exact integer threshold
    ranked = counts.select(
        "token",
        "freq",
        F.row_number().over(w).alias("rank"),
        (F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, -1))).alias(
            "cum_before"
        ),
        F.sum("freq").over(wtot).alias("total"),
    )
    return (
        ranked.where(
            F.coalesce(F.col("cum_before"), F.lit(0)) * 100
            < F.lit(mass_scaled) * F.col("total")
        )
        .select(
            F.col("rank").cast("integer").alias("rank"),
            "token",
            "freq",
            F.round(
                (F.coalesce(F.col("cum_before"), F.lit(0)) + F.col("freq")).cast(
                    "double"
                )
                / F.col("total").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("rank")
    )


def lm_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T193 — filter calibration: decile the corpus by the statistical
    LM score (t67) and report each decile's mean heuristic quality
    (t27) — the agreement check run before trusting either filter to
    gate the other's blind spots; a monotone table means the two
    signals rank documents consistently.

    Both scores are existing single-pass operators; the decile cut is
    one NTILE window over (score, doc_id) and the means use the
    decimal-quantize recipe. The oracle composes the two operators' SQL
    verbatim as CTEs, so calibration can never drift from the
    registered definitions.
    """
    from mapreduce_google_spark.operators.textstats import (
        bigram_lm_score,
        quality_score,
    )

    lm = bigram_lm_score(spark, sf_dir).select("doc_id", "lm_score")
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    j = lm.join(q, "doc_id")
    w = Window.orderBy("lm_score", "doc_id")
    dec = lambda c: F.col(c).cast("decimal(20,12)")  # noqa: E731
    return (
        j.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.sum(dec("lm_score")).cast("double") / F.count("*"), 6).alias(
                "mean_lm_score"
            ),
            F.round(F.sum(dec("quality")).cast("double") / F.count("*"), 6).alias(
                "mean_quality"
            ),
        )
        .select(F.col("decile").cast("integer").alias("decile"), "n_docs",
                "mean_lm_score", "mean_quality")
        .orderBy("decile")
    )


def token_budget_allocation(
    spark: SparkSession, sf_dir: str, budget: int = 1_000_000
) -> DataFrame:
    """T199 — the mixing plan in tokens: per source, its token count,
    its t140 temperature weight (count^0.5 over docs), the token budget
    it receives under a 1M-token run, and the implied epochs (budgeted
    tokens over available tokens — >1 means the source repeats).

    Composes the registered operators' math: token counts from the t19
    pass, weights from the t140 normalizer (same quantized sqrt), both
    at source grain, so the plan is one small-table join. Epochs are
    one IEEE division; budget tokens round half-up to integers via
    exact decimal scaling.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize("text"), lambda t: t != "")
    per_source = docs.select(
        "source", F.size(toks).cast("long").alias("n_toks")
    ).groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    scaled = per_source.withColumn(
        "w_dec", F.sqrt(F.col("n_docs").cast("double")).cast("decimal(20,12)")
    )
    total = scaled.groupBy().agg(F.sum("w_dec").alias("w_total"))
    weighted = scaled.crossJoin(F.broadcast(total)).withColumn(
        "weight",
        F.col("w_dec").cast("double") / F.col("w_total").cast("double"),
    )
    return weighted.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("weight", 6).alias("weight"),
        F.round(F.col("weight") * budget, 6).alias("budget_tokens"),
        F.round(
            (F.col("weight") * budget) / F.col("n_tokens").cast("double"), 6
        ).alias("epochs"),
    ).orderBy("source")


def quality_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T216 — ingestion-order drift: per source, the OLS slope of the
    quality composite (t27) against doc_id — the monitor that catches a
    source silently degrading as newer batches arrive (negative slope
    scaled to "quality change per 1000 docs" so the number is
    readable).

    The grouped-regression template (t180): doc_id moments are exact
    integers, quality is the round-6 composite quantized before its
    sums, the closed form is a fixed IEEE chain per source.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    j = docs.join(quality, "doc_id")
    x = F.col("doc_id").cast("decimal(20,0)")
    y = F.col("quality").cast("decimal(20,12)")
    m = j.groupBy("source").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(
            (F.col("doc_id").cast("double") * F.col("quality")).cast(
                "decimal(20,12)"
            )
        )
        .cast("double")
        .alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round(slope * 1000.0, 6).alias("quality_drift_per_1k_docs"),
    ).orderBy("source")


def token_position_stats(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """T220 — positional structure: for the top-k corpus tokens, the
    mean RELATIVE position (0 = document start, 1 = end) of their
    occurrences — boilerplate headers/footers show up as tokens pinned
    near 0 or 1, while content words hover near 0.5. The structural
    signal behind header/footer stripping rules.

    One posexplode pass emits (token, pos/(len−1)) with the fraction
    quantized to decimal(20,12); the top-k cut is TakeOrdered on the
    vocabulary-sized counts and broadcasts back. Docs with a single
    token are excluded (relative position undefined).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.filter(tokenize("text"), lambda t: t != "").alias("tokens")
    ).where(F.size("tokens") >= 2)
    pos = toks.select(
        F.posexplode("tokens").alias("i", "token"),
        (F.size("tokens") - 1).alias("last"),
    ).select(
        "token",
        (F.col("i").cast("double") / F.col("last").cast("double"))
        .cast("decimal(20,12)")
        .alias("rel"),
    )
    counts = pos.groupBy("token").agg(F.count("*").cast("long").alias("n_occ"))
    top = counts.orderBy(F.col("n_occ").desc(), F.col("token").asc()).limit(k)
    return (
        pos.join(F.broadcast(top), "token")
        .groupBy("token")
        .agg(
            F.max("n_occ").alias("n_occ"),
            F.round(F.sum("rel").cast("double") / F.count("*"), 6).alias(
                "mean_rel_pos"
            ),
        )
        .orderBy("token")
    )


def _word_ngrams(toks, n: int):
    """All word n-grams of a token array WITH duplicates (unlike
    dedup's distinct shingle sets — repetition analysis needs the
    occurrence counts). Pure per-row HOFs, codegen-side."""
    sz = F.size(toks)
    zipped = F.arrays_zip(
        *[(toks if i == 0 else F.slice(toks, i + 1, sz)).alias(f"t{i}") for i in range(n)]
    )
    return F.when(
        sz >= n,
        F.transform(
            F.slice(zipped, 1, sz - (n - 1)),
            lambda st: F.concat_ws(" ", *[st[f"t{i}"] for i in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def intradoc_repetition(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """T222 — Gopher-style INTRA-document repetition screen (Rae et al.
    2021, §A1.1): the canonical LLM-data quality family missing from
    the length/punct gate (t27) and the corpus-level burstiness view
    (t182). Per document: the fraction of word, 2-gram and 3-gram
    OCCURRENCES that are repeats (1 − distinct/total); per source: the
    micro-averaged repetition rates and how many docs a
    Gopher-threshold filter (word>0.30, 2-gram>0.20, 3-gram>0.18)
    would drop.

    Scale shape: everything per-row inside codegen (``array_distinct``
    sizes — no explode, no per-token shuffle), then ONE tiny hash-agg
    to source grain. Determinism: the per-doc threshold tests are
    integer cross-multiplications (``10·(t−d) > 3·t`` etc.), the
    reported rates are single IEEE divisions of exact long sums,
    rounded to 6 — the repo-wide engine/oracle parity recipe.
    """
    docs = load_table(spark, sf_dir, "documents")
    return repetition_rollup(repetition_sums(docs))


def repetition_sums(docs: DataFrame) -> DataFrame:
    """Per-source ADDITIVE repetition state: (source, n_docs, n_flagged,
    tw, dw, t2, d2, t3, d3) — pure sums, so any partition of the corpus
    into batches merges to the same state (the property the streaming
    twin exploits).

    STAGED selects: materializing toks/g2/g3 as named columns before
    taking sizes lets each array be computed once per row — inlining
    them re-evaluates the tokenize/n-gram subexpressions per consumer
    (no CSE across projection expressions; measured 2.5 s → 1.06 s at
    sf0.1).
    """
    arrays = docs.select(
        "source", F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    ).select(
        "source",
        "toks",
        _word_ngrams(F.col("toks"), 2).alias("g2"),
        _word_ngrams(F.col("toks"), 3).alias("g3"),
    )
    base = arrays.select(
        "source",
        F.size("toks").cast("long").alias("tw"),
        F.size(F.array_distinct("toks")).cast("long").alias("dw"),
        F.size("g2").cast("long").alias("t2"),
        F.size(F.array_distinct("g2")).cast("long").alias("d2"),
        F.size("g3").cast("long").alias("t3"),
        F.size(F.array_distinct("g3")).cast("long").alias("d3"),
    )
    flagged = (
        ((F.col("tw") > 0) & (10 * (F.col("tw") - F.col("dw")) > 3 * F.col("tw")))
        | ((F.col("t2") > 0) & (5 * (F.col("t2") - F.col("d2")) > F.col("t2")))
        | (
            (F.col("t3") > 0)
            & (50 * (F.col("t3") - F.col("d3")) > 9 * F.col("t3"))
        )
    )
    return base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(flagged.cast("int")).cast("long").alias("n_flagged"),
        F.sum("tw").cast("long").alias("tw"),
        F.sum("dw").cast("long").alias("dw"),
        F.sum("t2").cast("long").alias("t2"),
        F.sum("d2").cast("long").alias("d2"),
        F.sum("t3").cast("long").alias("t3"),
        F.sum("d3").cast("long").alias("d3"),
    )


def repetition_rollup(sums: DataFrame) -> DataFrame:
    """Finish the repetition report from additive state: micro-averaged
    rates as single IEEE divisions of exact long sums, rounded to 6."""
    return sums.select(
        "source",
        "n_docs",
        "n_flagged",
        F.round(
            (F.col("tw") - F.col("dw")).cast("double") / F.col("tw").cast("double"),
            6,
        ).alias("dup_word_rate"),
        F.round(
            (F.col("t2") - F.col("d2")).cast("double") / F.col("t2").cast("double"),
            6,
        ).alias("dup_2gram_rate"),
        F.round(
            (F.col("t3") - F.col("d3")).cast("double") / F.col("t3").cast("double"),
            6,
        ).alias("dup_3gram_rate"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# BM25 ranked retrieval
# --------------------------------------------------------------------------

#: fixed t230 query — one rare term ('dup', df≈5% of docs) between two
#: common ones, so the IDF weighting visibly drives the ranking
BM25_QUERY_TERMS: tuple[str, ...] = ("dup", "merge", "scan")

#: classic Robertson/Sparck-Jones constants. Literals like 2.2 appear
#: verbatim in BOTH engines (never computed as 1.2 + 1, whose binary
#: rounding differs from the parsed literal) so the doubles agree.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_retrieval(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """T230 — BM25 ranked retrieval: top-``k`` documents for a fixed
    3-term query, the lexical-search baseline every RAG/retrieval stack
    keeps next to its embedding index (and the dual of t18's dense
    cosine top-k).

    Scale shape: ONE scan of documents computes per-row (dl, tf per
    query term) with array HOFs — no explode, nothing shuffled at token
    grain; corpus stats (N, avgdl, per-term df) are a single-row
    aggregate broadcast back via cross join (the repo's scalar-subquery
    pattern), so the whole plan is scan → tiny agg → broadcast →
    codegen'd per-row score → TakeOrderedAndProject. A term absent from
    a doc contributes 0 through tf = 0 — no special-casing, no join
    against an inverted index (the posting-list variant only pays at
    query-throughput scale, not corpus scale).

    Engine parity: per-term scores are combined in a FIXED left-to-right
    expression (not a SUM over rows), every constant is the same parsed
    literal on both sides, and ranking uses the rounded score with
    doc_id tiebreak — the t138 determinism recipe.
    """
    docs = load_table(spark, sf_dir, "documents")
    # staged select: one tokenize per row, not one per (dl + |Q| tf)
    # projection expression — no CSE across projection expressions (the
    # t222/t27 measurement; same fix as language_id/quality_score above)
    arrays = docs.select(
        "doc_id", F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    )

    def tf(term: str) -> Column:
        # NB: the lambda must stay single-arg — F.filter dispatches on
        # arity, and a two-arg lambda receives the ARRAY INDEX as its
        # second argument (a default-arg `term=term` binding silently
        # becomes "token == position")
        return F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term)))

    per_doc = arrays.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[tf(term).alias(f"tf{i}") for i, term in enumerate(BM25_QUERY_TERMS)],
    )
    nq = len(BM25_QUERY_TERMS)
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("double").alias(f"df{i}")
            for i in range(nq)
        ],
    )
    score = None
    for i in range(nq):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        norm = F.lit(1.2) * (
            F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl")
        )
        part = idf * (F.col(f"tf{i}") * F.lit(2.2)) / (F.col(f"tf{i}") + norm)
        score = part if score is None else score + part
    topk = (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)  # TakeOrderedAndProject — never a global sort
    )
    # rank assigned AFTER the k-row cut: the window sorts k rows, not
    # the corpus (an un-partitioned row_number over all docs would be
    # the single-task sort the plan sweep forbids)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rnk", F.row_number().over(w).cast("integer"))
        .select("rnk", "doc_id", "score")
        .orderBy("rnk")
    )
