"""Deduplication operators over the ``documents`` table.

North-star LLM-pipeline family (SURVEY.md §2c): exact dedup, n-gram
Jaccard near-dup, MinHash+LSH, SimHash. All engine-side logic is built-in
``pyspark.sql.functions`` (md5/xxhash64/higher-order functions) — no
Python UDFs — so every stage stays in whole-stage codegen and the only
shuffles are the groupBys/joins that define the algorithms.

Scale notes:
* exact dedup is one hash-agg on the fingerprint — the canonical 100 TB
  dedup pass (shuffle carries fingerprint + min doc_id, not the text);
* shingle-based ops explode to (doc, shingle) pairs; frequency-capped
  shingles (the ``max_df`` parameter: drop shingles appearing in >
  max_df docs) keep the self-join from exploding on boilerplate, and
  the LSH candidate stage additionally caps bucket size
  (``max_bucket``) so a degenerate bucket can't go quadratic;
* MinHash-LSH replaces the quadratic candidate join with band-bucket
  grouping: cost O(docs × bands), candidates only within equal buckets.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_google_spark.functions.text import tokenize
from mapreduce_google_spark.io import load_table

#: Mersenne prime 2^31-1: MinHash modulus (keeps a_i*x + b_i in longs)
_PRIME31 = (1 << 31) - 1


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17 — exact dedup on ``md5(lower(trim(text)))``.

    Keeps the lowest doc_id per fingerprint group and reports group size.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("doc_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
        .orderBy("doc_id")
    )


def _doc_shingle_arrays(
    docs: DataFrame,
    n: int = 3,
    max_df: int | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, shingles: array<string>) — the DISTINCT word n-grams of
    the lowercased token stream per document, kept as one array row.

    ``max_df``: drop shingles appearing in more than ``max_df`` documents
    (boilerplate headers/footers/licenses). Near-dup cost is driven by
    co-shingled pairs, which is quadratic in document frequency — one
    shared footer across a 100 TB corpus turns both the exact self-join
    and the LSH buckets into a cross product. The stop-set is computed
    with one explode + hash-agg (map-side combined) and is SMALL by
    construction (≤ total-shingle-occurrences / max_df entries), so it
    broadcasts; removal is a per-row ``array_except`` — no extra shuffle
    of the documents themselves.

    Per-row (narrow) evaluation: no explode, no distinct shuffle — the
    set semantics come from ``array_distinct``. Downstream per-doc
    computations (MinHash signatures, candidate-pair Jaccard) stay
    shuffle-free or shuffle only doc-level rows, which is the difference
    between O(docs) and O(shingle occurrences) exchange volume at 100 TB.

    The corpus arrives as ONE parquet file → one input partition; without
    an explicit repartition the entire tokenize (the most expensive
    expression in the dedup family) runs on a single core. The narrow
    doc_id shuffle up front parallelizes it across the cluster — at
    100 TB the source would already be many files, but a small-file hot
    spot like this is exactly what kills mixed-size production runs.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs.repartition(par, "doc_id")
        .select("doc_id", *keep, tokenize("text").alias("tokens"))
        .select(
            "doc_id", *keep, F.filter("tokens", lambda t: t != "").alias("tokens")
        )
    )
    # word n-grams via zip of n shifted copies of the token array — one
    # slice per doc instead of one per shingle (the per-index
    # slice+concat lambda evaluates interpreted and was ~3× slower).
    # Guard: docs shorter than n tokens get an explicit empty array
    # (sequence/slice with negative lengths misbehave, they don't empty).
    sz = F.size("tokens")
    zipped = F.arrays_zip(
        *[
            (F.col("tokens") if i == 0 else F.slice("tokens", i + 1, sz)).alias(
                f"t{i}"
            )
            for i in range(n)
        ]
    )
    ngrams = toks.select(
        "doc_id",
        *keep,
        F.when(
            sz >= n,
            F.transform(
                F.slice(zipped, 1, sz - (n - 1)),
                lambda st: F.concat_ws(" ", *[st[f"t{i}"] for i in range(n)]),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("shingles"),
    )
    sets = ngrams.select(
        "doc_id",
        *keep,
        F.array_distinct(F.filter("shingles", lambda s: s != "")).alias("shingles"),
    )
    if max_df is None:
        return sets
    stop = (
        sets.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .agg(F.collect_set("shingle").alias("stop"))  # always exactly 1 row
    )
    return sets.crossJoin(F.broadcast(stop)).select(
        "doc_id", *keep, F.array_except("shingles", "stop").alias("shingles")
    )


def _doc_shingles(
    docs: DataFrame, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """(doc_id, shingle) exploded pairs — the inverted-index form, for
    operators that genuinely need a join per shingle (exact all-pairs
    Jaccard's candidate discovery)."""
    return _doc_shingle_arrays(docs, n, max_df=max_df).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


#: (corpus tag, n, max_df, warn_df) combos already skew-profiled this
#: process — makes the t21 guard warn-once, so registry sweeps and plan
#: audits construct the DataFrame without re-running the profile job
_SKEW_PROFILED: set[tuple] = set()


def _warn_on_shingle_skew(
    sh: DataFrame, sf_dir: str, n: int, max_df: int | None, warn_df: int
) -> None:
    """Profile per-shingle document frequency once per (corpus, params)
    per process and warn loudly if any shingle's fan-out makes the exact
    self-join quadratic. Non-semantic: never alters results."""
    from mapreduce_google_spark.io import cache_tag

    key = (cache_tag(sf_dir, "documents"), n, max_df, warn_df)
    if key in _SKEW_PROFILED:
        return
    _SKEW_PROFILED.add(key)
    profile = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > warn_df)
        .agg(
            F.count("*").alias("n_hot"),
            F.max("df").alias("max_df_seen"),
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("extra_pairs"),
        )
        .collect()[0]
    )
    if profile.n_hot:
        import warnings

        warnings.warn(
            f"ngram_jaccard_pairs: {profile.n_hot} shingle(s) exceed "
            f"df={warn_df} (max df {profile.max_df_seen}; "
            f"~{int(profile.extra_pairs)} candidate pairs from hot "
            f"shingles alone). The exact self-join is quadratic in "
            f"per-shingle df — set max_df to drop boilerplate "
            f"shingles, or use minhash_lsh_pairs (bucket-capped) at "
            f"scale. Results are NOT capped by this warning.",
            RuntimeWarning,
            stacklevel=3,
        )


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    warn_df: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over word-3-gram shingle sets.

    shingle self-join → common-count per pair → |A∪B| via per-doc sizes.
    Exact and oracle-checkable; the LSH variant below is the scale path
    (this one is O(pairs sharing a shingle) — ``max_df`` caps the
    per-shingle fan-out so boilerplate can't make it quadratic; Jaccard
    is then computed over the CAPPED sets on both engine and oracle).

    The inverted index is served from the persisted
    :func:`shingle_store_table` (r19, guide §2.3 narrower types + §6
    build-once substrate; r19 shingle hash-join probe) — each doc's
    sorted distinct ``xxhash64`` shingle values plus ``set_size``, the
    SAME store the t22 verify stage reads — so tokenize + n-gram
    assembly (the most expensive expression in the dedup family) is
    paid once per corpus version, the self-join key shrinks from a
    ~20-char string to 8 bytes, and the per-doc sizes aggregation
    disappears into a store column. Pair counts over hashes equal pair
    counts over strings absent an xxhash64 collision inside a document
    pair (~2^-64 per distinct shingle pair — the bound the t22 verify
    stage has shipped on since r14); rows equal the string-keyed
    :func:`ngram_jaccard_pairs_direct` (sorted-rows equality gated at
    sf0.1 AND sf1, oracle-green at sf0.01). −65% at sf0.1, −36% at sf1
    for t21; composes into t135 and t170.

    ``warn_df`` (ON by default at 1000, the t22 ``max_bucket`` analog
    for the exact detector): a NON-semantic skew guard. Dropping
    shingles changes results, so nothing is capped by default — instead
    the per-shingle document frequency is profiled (one tiny hash-agg
    over the inverted index) and a loud warning names the worst
    shingles and the candidate-pair fan-out when any df exceeds the
    threshold. A shingle shared by k docs emits k·(k−1)/2 join rows, so
    one boilerplate footer on an unprofiled corpus is the difference
    between a bounded job and a quadratic one; the warning tells the
    operator to set ``max_df`` (or use the LSH path) BEFORE the join
    runs, not after it hangs.

    CAVEAT (the one deliberate eagerness in the registry): the profile
    is a driver-side job, so the FIRST builder call per (corpus, n,
    max_df, warn_df) per process runs it eagerly — PySpark offers no
    action-time hook a lazy builder could defer it to, and ``observe()``
    can't compute a per-key aggregate. Repeat calls (registry sweeps,
    plan audits) are memoized dict hits, i.e. fully lazy; pass
    ``warn_df=None`` for a strictly lazy plan.
    """
    sets = spark.table(shingle_store_table(spark, sf_dir, n, max_df))
    # the hash column keeps the name "shingle" so the tail is the one
    # the direct reference runs — the join only needs key EQUALITY,
    # which xxhash64 preserves (collision bound above)
    sh = sets.select("doc_id", F.explode("xh").alias("shingle"))
    if warn_df is not None:
        _warn_on_shingle_skew(sh, sf_dir, n, max_df, warn_df)
    return _jaccard_pairs_from_index(
        sh, sets.select("doc_id", "set_size"), threshold
    )


def ngram_jaccard_pairs_direct(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Reference for :func:`ngram_jaccard_pairs`: the same pairs with
    the inverted index built from the raw documents, string-keyed
    (retokenize, n-gram assembly, per-doc set sizes by aggregation)
    instead of read from the shingle-hash store."""
    sh = _doc_shingles(load_table(spark, sf_dir, "documents"), n, max_df=max_df)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    return _jaccard_pairs_from_index(sh, sizes, threshold)


def _jaccard_pairs_from_index(
    sh: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a < doc_b, jaccard ≥ threshold) from an inverted index
    (doc_id, shingle) and per-doc set sizes (doc_id, set_size)."""
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def minhash_signatures(
    docs: DataFrame | None,
    n: int = 3,
    num_hashes: int = 32,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, signature array<long>) — MinHash over shingle sets.

    Permutation family h_i(x) = (a_i·x + b_i) mod (2^31-1) with x =
    xxhash64(shingle) folded to 31 bits. All arithmetic stays in LONGs
    (a_i < 2^6, x < 2^31 ⇒ products < 2^37 — no decimal widening).

    Computed PER ROW over the shingle array (``transform`` +
    ``array_min``), not as a groupBy over exploded shingles: signature
    computation is embarrassingly parallel per document, so it costs zero
    shuffle — the previous exploded formulation exchanged every (doc,
    shingle) pair just to take per-doc minimums. Docs with no shingles
    (< n tokens) carry no signature and are dropped, matching the
    exploded form.
    """
    sets = (
        shingle_arrays if shingle_arrays is not None else _doc_shingle_arrays(docs, n)
    )
    return _signatures_from_hashes(sets, num_hashes, "shingles", F.xxhash64)


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) — band key = (band index, hash of that
    band's signature slice). Narrow per-row expansion, no shuffle."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("signature")[i].cast("string")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """MinHash-LSH near-dup: shingle → minhash → band → bucket-join →
    exact-Jaccard verify of CANDIDATES ONLY.

    The verify stage computes Jaccard just for pairs sharing a band
    bucket — at 100 TB that is the entire point of LSH (the exact
    all-pairs join is quadratic in co-shingled docs; candidates are
    ~linear for bounded near-dup rates). Verification joins each
    candidate pair to the two docs' shingle ARRAYS and intersects them
    per row (``array_intersect``) — two doc-level joins, instead of
    re-exploding the inverted index per candidate.

    Two skew guards for boilerplate-heavy corpora:

    * ``max_df`` (opt-in; default off because it CHANGES semantics —
      dropped shingles never reach the hash family) — drop shingles
      shared by more than ``max_df`` docs BEFORE signatures (see
      :func:`_doc_shingle_arrays`), so boilerplate never reaches the
      hash family;
    * ``max_bucket`` (ON by default at 1000, matching
      :func:`minhash_lsh_pairs_from_bands` — a pure safety net: on any
      non-degenerate corpus no bucket comes near the cap, so results
      are unchanged, and on an unprofiled boilerplate-heavy corpus it
      is the difference between a bounded job and a quadratic one) —
      drop band buckets holding more than ``max_bucket`` docs before
      the candidate self-join. A bucket of k docs emits k·(k−1)/2
      candidates; one degenerate bucket (near-identical template
      pages, or max_df left off) otherwise dominates the whole job.
      Oversized bucket keys are few by construction, so the guard is a
      broadcast anti-join against their keys. The banded table is
      cached so the profile and both self-join sides read one
      materialization — the guard costs one tiny aggregation, not a
      second signature pass.

    For repeated/incremental runs use :func:`minhash_lsh_pairs_from_bands`,
    which materializes the band table once and verifies candidate docs
    only.

    Rows-only for the driver (the hash family isn't SQL-portable);
    ``tests/test_approx_ops.py`` asserts precision 1.0 vs the exact
    operator, a recall floor, and that a planted shared footer does not
    explode the candidate count.
    """
    docs = load_table(spark, sf_dir, "documents")
    sets = _doc_shingle_arrays(docs, n, max_df=max_df).cache()
    sig = minhash_signatures(docs, n, num_hashes, shingle_arrays=sets)
    # cache the banded table: the bucket-size profile and BOTH sides of
    # the candidate self-join read it, so without the cache the
    # signature pipeline (the expensive pass) would run once per
    # consumer. Pre-partitioning by the join key (band, bucket) BEFORE
    # caching means the cached partitioning satisfies the self-join's
    # and the guard aggregation's distribution requirements — zero
    # further shuffles of the banded set (measured ~15% off t22's
    # steady state). At 100 TB the same role is played by the
    # materialized parquet band table (minhash_band_table_counted),
    # bucketed by (band, bucket) — the t40 recipe — for the same
    # shuffle-free join property across runs.
    banded = (
        _band_buckets(sig, num_hashes, bands)
        .repartition("band", "bucket")
        .cache()
    )
    left = banded
    if max_bucket is not None:
        # oversized buckets are FEW by construction (only boilerplate
        # collapse produces them), so the guard is a broadcast anti-join
        # against their keys — no window sort over the full banded set.
        # Filtering ONE side of the self-join is sufficient (a candidate
        # pair needs a bucket match on BOTH sides), so the guard costs a
        # single tiny aggregation + one anti-join, not two.
        oversized = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > max_bucket)
            .select("band", "bucket")
        )
        left = banded.join(F.broadcast(oversized), ["band", "bucket"], "left_anti")
    a, b_ = left.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = F.round(
        n_common / (F.size("sh_a") + F.size("sh_b") - n_common), 6
    ).alias("jaccard")
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jaccard)
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def minhash_band_table_counted(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_df: int | None = None,
) -> str:
    """Materialize the (doc_id, band, bucket, bucket_n) LSH index as a
    parquet table BUCKETED BY (band, bucket) (one signature pass), keyed
    by the source fingerprint (``io.cache_tag``). Returns the catalog
    table name; idempotent until the corpus changes.

    This is the production form of the LSH pipeline: the signature/band
    table is the durable asset — computed once per corpus version, read
    by every downstream pass (candidate joins, incremental re-runs) —
    so signature computation cost is paid exactly once no matter how
    many consumers follow. The bucketed+sorted layout (the same recipe
    t40 uses, ``io.write_parquet``) is what makes the CROSS-RUN
    candidate join shuffle-free: every reader of ``spark.table(name)``
    sees the bucketing metadata, so the self-join on exactly (band,
    bucket) runs with ZERO exchange of the banded set — the property
    the in-session path gets from ``repartition("band","bucket").cache()``,
    held durably on disk. It has as many buckets as the session's
    parallelism (``io.store_bucket_count``), so at 100 TB the table is
    sized by the cluster's executor cores with no argument to raise.

    ``bucket_n`` is the (band, bucket) group size, computed with a
    window over the build output BEFORE the bucketed write and stamped
    once per corpus version (r17 t22 guard probe: the previous
    ``max_bucket`` guard re-AGGREGATED the full band table and
    broadcast-anti-joined it on EVERY query; the baked-in count turns
    the guard into a pushed filter — −27%/−12%/−23% at sf0.1/sf1/sf3,
    interleaved — and the saving grows with the corpus because the
    guard agg scanned the whole banded set). A row is guard-dropped iff
    its group count exceeds ``max_bucket``, so ``WHERE bucket_n <=
    max_bucket`` drops exactly the rows the in-session
    :func:`minhash_lsh_pairs` anti-join drops (equality pinned at caps
    1000 AND 2 in
    ``tests/test_plans.py::test_t22_counted_guard_equals_agg_antijoin``).

    The ``mgs_lsh_bands2_`` name fences off the bucket_n-less
    ``mgs_lsh_bands_`` stores older code wrote: the bucket spec suffix
    does not hash the SCHEMA, so reusing that name could adopt them."""
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        cache_tag,
        shared_store_path,
    )

    tag = cache_tag(sf_dir, "documents")
    name = f"mgs_lsh_bands2_{tag}_n{n}_h{num_hashes}_b{bands}_df{max_df}"

    def build():
        sets = spark.table(shingle_store_table(spark, sf_dir, n, max_df))
        sig = _signatures_from_hashes(sets, num_hashes)
        banded = _band_buckets(sig, num_hashes, bands)
        w = Window.partitionBy("band", "bucket")
        return banded.withColumn("bucket_n", F.count("*").over(w))

    return adopt_or_build_bucketed_table(
        spark, name, shared_store_path(name), ["band", "bucket"], None, build
    )


def shingle_store_table(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    max_df: int | None = None,
) -> str:
    """Materialize per-document shingle sets as ``(doc_id, xh:
    array<long>, set_size)`` — sorted distinct ``xxhash64`` values of
    each doc's word n-grams — in a doc_id-bucketed parquet table keyed
    by the corpus fingerprint (``io.cache_tag``): the second durable
    asset of the LSH pipeline next to the band table (r14, VERDICT r13
    item 4).

    The from-bands verify stage previously re-read and re-TOKENIZED
    every candidate document per run: tokenize + n-gram assembly is the
    most expensive expression in the dedup family, and on a
    steady-state corpus it was being paid on every near-dup pass even
    though the band table had already amortized the signature pass.
    This store pays it once per corpus version.

    HASHES, not strings, by measurement: a first cut stored the shingle
    strings and LOST to retokenizing at sf1 (1.56 s vs 1.39 s median)
    because ~20-char shingle strings scan MORE bytes than the raw text
    they came from; 8-byte hashes flip it — 1.09/1.15 s at sf0.1/sf1 vs
    1.28/1.39 s for the best alternative at each scale, and the
    scan-volume advantage only grows with corpus size. Jaccard over
    hashed sets equals Jaccard over string sets absent an xxhash64
    collision inside a candidate pair (probability ~2^-64 per distinct
    shingle pair; equality vs the string-based direct operator is
    pinned in tests on real corpora). The same hashes seed the MinHash
    permutation family, so the band-table build consumes this store
    instead of re-hashing (:func:`_signatures_from_hashes`).

    Identity includes (n, max_df) because a ``max_df``-capped shingle
    set is a function of the WHOLE corpus (the stop-set), not just the
    document — two parameterizations can never share files.
    """
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        cache_tag,
        shared_store_path,
    )

    tag = cache_tag(sf_dir, "documents")
    name = f"mgs_shingle_hashes_{tag}_n{n}_df{max_df}"

    def build():
        docs = load_table(spark, sf_dir, "documents")
        sets = _doc_shingle_arrays(docs, n, max_df=max_df)
        xh = F.array_sort(
            F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s)))
        )
        return sets.select(
            "doc_id", xh.alias("xh"), F.size(xh).alias("set_size")
        )

    return adopt_or_build_bucketed_table(
        spark, name, shared_store_path(name), ["doc_id"], None, build
    )


def _signatures_from_hashes(
    sets: DataFrame,
    num_hashes: int = 32,
    col: str = "xh",
    hash_of: Callable[[Column], Column] = lambda h: h,
) -> DataFrame:
    """(doc_id, signature) — the MinHash permutation fold of
    :func:`minhash_signatures` over each doc's 64-bit shingle hashes
    ``hash_of(x)`` for x in ``col``: the shingle-hash store's ``xh``
    as is, or ``xxhash64`` of the raw shingle strings. x is folded to 31
    bits (xs = hash mod p); min over a set is order-insensitive, so the
    sorted distinct store array yields the same signatures as the raw
    shingle array.

    The hash is applied inside the fold's one ``transform``, after the
    empty-set filter on ``col``: a hashed column projected under that
    filter would be evaluated twice, because the optimizer pushes the
    filter below the projection and inlines the hash expression."""
    xs = sets.where(F.size(col) > 0).select(
        "doc_id",
        F.transform(col, lambda h: F.pmod(hash_of(h), F.lit(_PRIME31))).alias(
            "xs"
        ),
    )

    def _perm(a: int, b: int):
        # closure factory: transform() inspects the lambda's arity, so the
        # constants must be captured, not passed as defaulted params
        return lambda x: (x * a + b) % _PRIME31

    mins = []
    for i in range(num_hashes):
        a = 2 * i + 1  # odd multipliers, deterministic
        b = (0x9E3779B9 * (i + 1)) % _PRIME31
        mins.append(F.array_min(F.transform("xs", _perm(a, b))))
    return xs.select("doc_id", F.array(*mins).alias("signature"))


def minhash_lsh_pairs_from_bands(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """MinHash-LSH near-dup pairs from the MATERIALIZED band table —
    semantically identical to :func:`minhash_lsh_pairs` (equality pinned
    in tests), with the 100 TB cost profile:

    * the signature pipeline runs once ever (table build), not once per
      plan subtree — so both join sides and any re-run read cheap
      parquet instead of recomputing hashes (``max_bucket`` therefore
      defaults ON here);
    * the bucket-size guard is a PUSHED FILTER, not a query-time pass:
      :func:`minhash_band_table_counted` stamps each row with its
      (band, bucket) group size at build time, so ``bucket_n <=
      max_bucket`` drops exactly the rows the in-session anti-join
      drops without re-scanning the banded set per run;
    * the verify stage reads hashed shingle sets from the doc_id-
      bucketed :func:`shingle_store_table` (semi-join pruned to
      candidate documents) — no re-tokenization, 8-byte array elements,
      and the raw corpus is never scanned at all on the steady state
      (plan-gated);
    * the band table is bucketed+sorted on (band, bucket), so the
      candidate self-join needs NO exchange of the banded set — the
      cross-run analog of the in-session ``repartition().cache()``
      (plan-gated in
      ``tests/test_plans.py::test_from_bands_candidate_join_has_no_banded_exchange``).

    For a corpus read once, :func:`minhash_lsh_pairs` is the store-free
    path.
    """
    table = minhash_band_table_counted(spark, sf_dir, n, num_hashes, bands, max_df)
    banded = spark.table(table)
    if max_bucket is not None:
        banded = banded.where(F.col("bucket_n") <= max_bucket)
    banded = banded.drop("bucket_n")
    # `merge` hint (same rationale as t40): at test scale the tiny band
    # table would broadcast, hiding the property this path exists for —
    # the bucketed layout lets the self-join read co-located buckets with
    # ZERO exchange of the banded set (plan-gated). At 100 TB neither
    # side broadcasts and bucketed sort-merge is the plan regardless.
    a, b_ = banded.hint("merge").alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # steady-state verify (r14): hashed shingle sets come from the
    # doc_id-bucketed store — one tokenize pass per corpus version,
    # 8-byte elements instead of re-tokenized ~20-char strings
    sets = (
        spark.table(shingle_store_table(spark, sf_dir, n, max_df))
        .join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", F.col("xh").alias("sh"), "set_size")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("set_size").alias("size_b"),
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = F.round(
        n_common / (F.col("size_a") + F.col("size_b") - n_common), 6
    ).alias("jaccard")
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jaccard)
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def incremental_dedup(
    spark: SparkSession, sf_dir: str, batch_start: int = 250
) -> DataFrame:
    """T65 — incremental ingest dedup: which NEW documents survive against
    an already-deduplicated historical corpus?

    The production shape of T17: a 100 TB corpus is never re-deduped from
    scratch — each ingest batch is checked against the historical
    fingerprint set. Here docs with ``doc_id < batch_start`` play the
    history, the rest the incoming batch:

    1. within-batch dedup: keep the lowest doc_id per fingerprint
       (one hash-agg over the batch only);
    2. history check: LEFT ANTI join batch fingerprints against history
       fingerprints — the join carries 32-byte hashes + ids, never text.

    Both joins shuffle on the fingerprint; the production form of the
    history side is the MATERIALIZED bucketed store —
    :func:`fingerprint_store_table` + :func:`incremental_dedup_from_store`
    (result-identity and the zero-store-exchange plan are both gated in
    tests) — making every nightly ingest a co-located join with zero
    exchange on the big side.
    Output: surviving (doc_id, fingerprint, n_dups_in_batch).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )
    history = docs.where(F.col("doc_id") < batch_start).select("fingerprint")
    batch = docs.where(F.col("doc_id") >= batch_start)
    batch_first = batch.groupBy("fingerprint").agg(
        F.min("doc_id").cast("long").alias("doc_id"),
        F.count("*").cast("long").alias("n_dups_in_batch"),
    )
    return (
        batch_first.join(history, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint", "n_dups_in_batch")
        .orderBy("doc_id")
    )


def fingerprint_store_table(
    spark: SparkSession,
    sf_dir: str,
    batch_start: int = 250,
) -> str:
    """Materialize the HISTORICAL fingerprint store as a parquet table
    BUCKETED BY fingerprint — the durable asset t65's docstring
    promises: write it once per corpus version and every nightly ingest
    anti-joins against co-located buckets with ZERO exchange of the
    store side (the batch side — the small side, by definition of
    incremental ingest — shuffles to match). Same recipe as the LSH
    band table (:func:`minhash_band_table_counted`) and t40. Returns the
    catalog table name; idempotent until the corpus changes.
    """
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        cache_tag,
        shared_store_path,
    )

    tag = cache_tag(sf_dir, "documents")
    name = f"mgs_fp_store_{tag}_b{batch_start}"

    def build():
        return (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < batch_start)
            .select(F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"))
            .distinct()
        )

    return adopt_or_build_bucketed_table(
        spark, name, shared_store_path(name), ["fingerprint"], None, build
    )


def incremental_dedup_from_store(
    spark: SparkSession, sf_dir: str, batch_start: int = 250
) -> DataFrame:
    """T65 semantics from the MATERIALIZED bucketed fingerprint store —
    result-identical to :func:`incremental_dedup` (equality pinned in
    tests) with the 100 TB cost profile: the history side is read from
    co-located buckets (no exchange of the store, plan-gated), the
    fingerprint pass over historical TEXT is paid once per corpus
    version instead of once per ingest, and only the incoming batch is
    hashed and shuffled per run.
    """
    table = fingerprint_store_table(spark, sf_dir, batch_start)
    history = spark.table(table)
    batch = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") >= batch_start)
        .select(
            "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
        )
    )
    batch_first = batch.groupBy("fingerprint").agg(
        F.min("doc_id").cast("long").alias("doc_id"),
        F.count("*").cast("long").alias("n_dups_in_batch"),
    )
    # `merge` hint (t40 rationale): at test scale the tiny store would
    # broadcast, hiding the co-location property the store exists for.
    return (
        batch_first.join(history.hint("merge"), "fingerprint", "left_anti")
        .select("doc_id", "fingerprint", "n_dups_in_batch")
        .orderBy("doc_id")
    )


def _simhash_fp(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — unordered SimHash fingerprints, shared by the
    report query (T23) and the banded near-dup pair join (T78)."""
    toks = docs.select(
        "doc_id", F.explode(tokenize("text")).alias("token")
    ).where(F.col("token") != "")
    h32 = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(h32, j).bitwiseAND(1) * 2 - 1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    simhash = sum(
        F.when(F.col(f"v{j}") > 0, 1 << j).otherwise(0) for j in range(bits)
    )
    return votes.select("doc_id", simhash.cast("long").alias("simhash"))


def simhash_fingerprints(spark: SparkSession, sf_dir: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash per document from md5-derived token bit votes.

    bit_j(token) = bit j of the first 8 hex digits of md5(token);
    simhash bit j = 1 iff Σ_tokens (2·bit_j − 1) > 0. Expressed as
    ``bits`` aggregate columns over the exploded token stream — one
    shuffle on doc_id, all JVM-side, and identically reproducible in the
    DuckDB oracle (same md5-derived bits).
    """
    docs = load_table(spark, sf_dir, "documents")
    return _simhash_fp(docs, bits).orderBy("doc_id")


def simhash_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """T77 — near-dup pairs by SimHash Hamming distance, via banded
    equi-join (never an all-pairs product) WITH a bucket-size guard.

    The 32-bit fingerprint splits into ``bands`` = 4 contiguous 8-bit
    bands. Two fingerprints within Hamming distance ``max_hamming`` = 3
    differ in at most 3 bands (pigeonhole), so they MUST agree on at
    least one band — the banded equi-join therefore has EXACT recall for
    the ≤3 threshold, which is why this query can be hash-checked
    against the brute-force all-pairs oracle while its own plan never
    materializes the quadratic product. Candidates are deduplicated as
    (doc_a, doc_b, hamming) triples (hamming is a pure function of the
    pair, so no re-join against the fingerprint table is needed), then
    filtered by ``bit_count(xor)`` — all JVM-side.

    Guard (r18 flip; staged r17 as ``simhash_near_dup_pairs_guarded``,
    merged back per the t22 staging precedent): on a closed-vocabulary
    corpus the band values concentrate brutally — at the 10× replica the
    hottest (band, band_val) bucket holds 13,380 of 50k docs and the
    candidate self-join's upper bound is 282 MILLION pairs (241 s wall
    in the r17 registry sweep) — the quadratic product the banding
    exists to avoid, reconstructed through bucket collapse. Buckets
    larger than ``max_bucket`` are therefore pruned from the LEFT side
    of the self-join (one-side filtering suffices: a candidate needs the
    bucket on BOTH sides, and the bucket is the same row group),
    mirroring :func:`minhash_lsh_pairs`'s in-session guard shape.
    Semantics with the guard ON: pairs whose EVERY shared band bucket is
    oversized are dropped — an oversized band bucket means a
    near-identical corpus slice, which exact dedup (T17) should have
    removed upstream. ``max_bucket=None`` keeps the exact pigeonhole
    recall guarantee (and the quadratic exposure). Trip profile on the
    shipped corpora (r17 diagnosis, simhash guard probe):
    sf0.01 max bucket 128 (the default cap never fires — the brute-force
    oracle is untouched), sf0.1 max 1,338 (fires marginally), sf1 max
    13,380 (fires massively; 186 → 9.9 s). The banded set is cached
    because the guard profile and both self-join sides read it; the
    cache is deliberately left to executor LRU eviction in-session
    (the :func:`minhash_lsh_pairs` recipe) — loops over this builder
    should ``spark.catalog.clearCache()`` between reps, as the
    r17 simhash guard shootout did."""
    docs = load_table(spark, sf_dir, "documents")
    fp = _simhash_fp(docs, bits)
    width = bits // bands
    mask = (1 << width) - 1
    banded = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width).bitwiseAND(mask)
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    ).repartition("band", "band_val")
    # cache: the guard profile and BOTH self-join sides read the banded
    # set; pre-partitioning on the join key means the cached layout
    # serves all three without further exchange (the t22 in-session
    # recipe, minhash_lsh_pairs)
    banded = banded.cache()
    left = banded
    if max_bucket is not None:
        oversized = (
            banded.groupBy("band", "band_val")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > max_bucket)
            .select("band", "band_val")
        )
        left = banded.join(
            F.broadcast(oversized), ["band", "band_val"], "left_anti"
        )
    a, b = left.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand.orderBy("doc_a", "doc_b")


def decontamination_report(
    spark: SparkSession,
    sf_dir: str,
    n: int = 4,
    eval_source: str = "src0",
) -> DataFrame:
    """T76 — train/eval contamination report: for every training document,
    how much of its distinct word-``n``-gram set also appears in the
    held-out evaluation corpus (here: documents from ``eval_source``).

    The decontamination pass every LLM training pipeline runs before
    training: benchmark text that leaked into the crawl must be found
    (and the doc dropped or scrubbed) or eval scores are meaningless.

    Scale shape: the eval/benchmark corpus is tiny next to the 100 TB
    train corpus, so its exploded (shingle, eval_doc) inverted index is
    BROADCAST — the train side is exploded once and joined map-side,
    never shuffled by shingle. The only train-corpus shuffles are
    doc_id-keyed: the aggregation of matched shingles per doc and the
    join back onto the per-doc set sizes (both co-partitioned). Reported
    per train doc: distinct-shingle count, how many of those shingles
    are contaminated, how many distinct eval docs they hit, and the
    contamination rate — zero-hit docs included (the report is the
    keep/drop decision input, so every doc needs a row).
    """
    docs = load_table(spark, sf_dir, "documents")
    # cached: the train branch feeds BOTH the per-doc sizes and the
    # exploded join side — without it the tokenize+shingle pass (the
    # dominant cost) runs twice over the full corpus (at 100 TB this
    # would be persist(DISK_ONLY) or a staged parquet write instead)
    sets = _doc_shingle_arrays(docs, n, keep=("source",)).cache()
    train = sets.where(F.col("source") != eval_source)
    eval_idx = (
        sets.where(F.col("source") == eval_source)
        .select(F.col("doc_id").alias("eval_doc"), F.explode("shingles").alias("shingle"))
    )
    tr_sizes = train.select(
        "doc_id", "source", F.size("shingles").cast("long").alias("n_shingles")
    )
    hits = (
        train.select("doc_id", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(eval_idx), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared"),
            F.count_distinct("eval_doc").alias("n_eval_docs"),
        )
    )
    return (
        tr_sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_shingles",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce("n_eval_docs", F.lit(0)).cast("long").alias("n_eval_docs"),
            F.when(F.col("n_shingles") > 0, F.round(F.coalesce("n_shared", F.lit(0)) / F.col("n_shingles"), 6))
            .otherwise(F.lit(0.0))
            .alias("contamination_rate"),
        )
        .orderBy("doc_id")
    )


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    max_iters: int = 10,
) -> DataFrame:
    """T48 — near-dup cluster labeling: connected components over the
    MinHash-LSH near-dup graph, each doc labeled with its cluster's
    minimum doc_id.

    The step the LSH pipeline needs before it can act (keep one doc per
    cluster): pairs → undirected edges → iterative min-label propagation
    (each node takes the min of its own and its neighbors' labels) until
    fixpoint. Convergence takes O(cluster diameter) rounds — near-dup
    clusters are shallow (dups of dups of one original), so the loop is
    short; each round is one shuffle join + hash-agg, the standard
    large-graph CC recipe (GraphX/Pregel does the same dataflow).
    ``localCheckpoint`` truncates the growing lineage each round —
    without it, iteration i replays all i−1 predecessors on every action
    (the classic iterative-Spark trap).

    Driver-side loop control (a per-round ``count()``) is O(iterations)
    scalar actions, not a data collect. Rows-only for the driver;
    ``tests/test_approx_ops.py`` asserts exact-duplicate groups land in
    one cluster and labels equal the cluster min.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .toDF("src", "dst")
        .localCheckpoint()  # pin the (small) edge list; LSH is expensive
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sizes = labels.groupBy("label").agg(F.count("*").cast("long").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """T134 — asymmetric containment near-dup: pairs where
    ``|A∩B| / |A|`` ≥ threshold (doc_a mostly contained in doc_b).

    Jaccard misses subset duplication (a paragraph quoted inside a much
    longer page scores low); containment is the standard complement for
    quote/excerpt detection in pretraining dedup. Same candidate
    machinery as the exact Jaccard pass — shingle self-join capped by
    ``max_df`` — but normalized by ONE side, so the pair is emitted in
    both directions when both containments clear the threshold.
    Excludes identical sets (containment 1.0 both ways is T17/T21's
    business) only by threshold, not specially.

    The inverted index is served from the persisted
    :func:`shingle_store_table` exactly as in :func:`ngram_jaccard_pairs`
    — see the collision-bound and measurement notes there; rows equal
    the string-keyed :func:`containment_pairs_direct` (r19 shingle
    hash-join probe: −58% at sf0.1, −23% at sf1 for t134; the residual
    250M-row pair shuffle at sf1 is the EXACT operator's irreducible
    Σdf² volume on the closed-vocabulary corpus — measured join_rows ≈
    distinct pairs ≈ 2.5e8, avg 1.1 shared shingles per candidate pair,
    so per-pair array intersection has no headroom either; the
    production path at scale is the LSH family).
    """
    sets = spark.table(shingle_store_table(spark, sf_dir, n, max_df))
    sh = sets.select("doc_id", F.explode("xh").alias("shingle"))
    return _containment_pairs_from_index(
        sh, sets.select("doc_id", "set_size"), threshold
    )


def containment_pairs_direct(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Reference for :func:`containment_pairs`: the same pairs with the
    inverted index built string-keyed from the raw documents instead of
    read from the shingle-hash store."""
    sh = _doc_shingles(load_table(spark, sf_dir, "documents"), n, max_df=max_df)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    return _containment_pairs_from_index(sh, sizes, threshold)


def _containment_pairs_from_index(
    sh: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a ≠ doc_b, containment of doc_a in doc_b ≥ threshold) from
    an inverted index (doc_id, shingle) and per-doc set sizes."""
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    return (
        common.join(sa, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common") / F.col("size_a"), 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def cross_source_dup_matrix(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """T135 — provenance leakage matrix: near-dup pair counts grouped by
    the (source, source) pair of the two documents.

    The question a crawl-curation team asks first: which feeds are
    copying each other? Exact Jaccard pairs (t21 machinery) joined back
    to each side's ``source``, sources ordered within the pair so (A,B)
    and (B,A) land in one cell. The matrix is |sources|² at most —
    tiny — so the only real cost is the pair computation itself.
    ``max_df`` passes through to that pair computation (r18, default
    None = unchanged behavior; the r19 default decision rides on
    the r18 banded-tail measurement).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        spark, sf_dir, n=n, threshold=threshold, max_df=max_df
    )
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
            ),
            "doc_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_1"),
            F.greatest("src_a", "src_b").alias("source_2"),
        )
    )
    return (
        labeled.groupBy("source_1", "source_2")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("source_1", "source_2")
    )


def duplicate_span_coverage(
    spark: SparkSession, sf_dir: str, k: int = 6
) -> DataFrame:
    """T139 — per-document duplicated-span coverage: the fraction of a
    doc's distinct k-token spans that also occur in at least one OTHER
    document (the exact-substring-dedup signal from "Deduplicating
    Training Data Makes Language Models Better" — docs with high
    coverage are near-copies of corpus boilerplate).

    Scale shape — ONE corpus scan: the span explode is the standard
    shingle pass (one row per distinct span per doc —
    ``array_distinct`` runs codegen-side before the explode so
    within-doc repeats never enter the shuffle); span document
    frequency is a COUNT window partitioned by the span over that same
    exploded table, so there is no df self-join re-scanning the corpus.
    No quadratic stage anywhere — cost is O(total spans), the minimum
    for exact span accounting.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize("text"), lambda t: t != "")
    spans = (
        docs.select("doc_id", toks.alias("tokens"))
        .where(F.size("tokens") >= k)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("tokens") - (k - 1)),
                        lambda i: F.array_join(F.slice(F.col("tokens"), i, k), " "),
                    )
                )
            ).alias("span"),
        )
    )
    wdf = Window.partitionBy("span")
    return (
        spans.withColumn("df", F.count("*").over(wdf))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup_spans") / F.col("n_spans"), 6))
        .orderBy("doc_id")
    )


def ensemble_dup_pairs(
    spark: SparkSession, sf_dir: str, max_df: int | None = None
) -> DataFrame:
    """T170 — ensemble near-dup: pairs flagged by BOTH the exact n-gram
    Jaccard operator (t21) AND the SimHash band operator (t77) — the
    high-confidence set a pipeline deletes without human review, while
    single-detector pairs go to sampling-based QA. Detector ensembling
    is standard curation practice: lexical-overlap and
    bit-signature detectors fail differently, so their intersection has
    the precision neither has alone.

    One equi-join of the two detectors' outputs on the (doc_a, doc_b)
    pair key — both sides are already pair-scale (candidates, not the
    corpus), so this costs nothing at any corpus size.

    ``max_df`` passes through to the Jaccard side's shingle machinery
    (r18, default None = unchanged behavior): the SimHash side carries
    its own bucket guard since the r18 flip, and the family contract
    wants the lexical side cappable the same way — the r19 default
    decision rides on the r18 banded-tail measurement.
    """
    jacc = ngram_jaccard_pairs(spark, sf_dir, max_df=max_df)
    sim = simhash_near_dup_pairs(spark, sf_dir)
    return (
        jacc.join(sim, ["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "jaccard", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def rolling_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T173 — time-windowed dedup: keep the first occurrence of each
    fingerprint PER WEEK (bucketed by doc_id as the ingestion clock) —
    the recency-scoped dedup a continuously-ingesting corpus needs,
    where a document may legitimately reappear after the window ages
    out (news re-publication, versioned docs) but not within it.

    One hash-agg on (week, fingerprint) — the same exact-dedup shuffle
    with the window bucket prepended to the key, so state per key stays
    bounded by the window instead of growing with corpus lifetime
    (exactly how the streaming dedup-with-watermark job, t49, bounds
    its state).
    """
    docs = load_table(spark, sf_dir, "documents")
    week = F.floor(F.col("doc_id") / F.lit(100)).cast("long")
    return (
        docs.select(
            week.alias("week"),
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
            "doc_id",
        )
        .groupBy("week", "fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("kept_doc"),
            F.count("*").cast("long").alias("n_in_window"),
        )
        .orderBy("week", "kept_doc")
    )


def edit_distance_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """T179 — edit-distance near-dup verification: SimHash candidates
    (t77's band join — never all pairs) re-scored with normalized
    Levenshtein similarity 1 − lev/max(len) — the character-level
    modality that catches small in-place edits lexical shingles and
    bit signatures both blur over.

    Candidate-then-verify again: the quadratic-looking Levenshtein DP
    runs ONLY on band-join candidates (pair-scale), JVM-side via the
    built-in ``levenshtein`` — an integer DP both engines implement
    identically, so the similarity is one IEEE division of exact ints.

    Plan note (r18 repair, results-identical): the candidate set is
    explicitly repartitioned to 2× parallelism before the text joins.
    Without it, AQE coalesces the pair exchange by BYTES (1.45M bare
    (id, id, hamming) rows ≈ one 64 MB advisory partition) and the
    Levenshtein DP — the one expensive-per-row expression in the plan —
    runs on a single core (observed via thread dump: one busy executor
    in ``UTF8String.levenshteinDistance``, 21 min at sf1 where the
    parallel form takes ~1 min). Bytes-based coalescing is the wrong
    heuristic whenever downstream cost is CPU-per-row, not bytes; the
    explicit numbered repartition is exempt from AQE coalescing by
    contract (r18 edit-distance repartition probe).

    Length pre-filter (r18, results-identical): ``lev(a, b) >=
    |len(a) − len(b)|``, so a pair whose length gap exceeds
    ``(1 − threshold) · max(len_a, len_b)`` cannot clear the final
    ``edit_sim >= threshold`` filter no matter what the DP computes —
    it is dropped BEFORE ``levenshtein`` runs. On the shipped corpus
    56% of the band-join candidates are prunable this way (the bit
    signature matches token distribution, not length, so
    excerpt/expansion pairs flood the verify stage with doomed DP
    work): 130 → 73 s at sf1, −36% at sf0.1, row-identical at every
    tier (r18 edit-distance length-filter probe). The pre-filter
    threshold carries a +1e-6 relative margin so the 6-decimal
    rounding of ``edit_sim`` at the final filter cannot disagree with
    the exact-length predicate at the boundary (round(x, 6) >= th only
    requires x >= th − 5e-7).

    Banded DP (r18, results-identical): Spark's ``levenshtein`` takes
    an optional threshold (SPARK-44886) and the thresholded variant
    runs a banded DP — O((2k+1)·min_len) cells instead of the full
    O(len_a·len_b) table, with early abandonment — returning the exact
    distance when it is <= k and -1 otherwise. Every row that survives
    the final filter has ``lev <= (1 − threshold + 5e-7)·max_len``, so
    with ``k = ceil((1 − threshold + 1e-6)·max_len)`` (per-row, via the
    SQL surface — the column-valued threshold is hidden by PySpark's
    int-only wrapper) the banded DP is exact for every surviving row
    and -1 only for rows the filter drops anyway; the ``d >= 0`` guard
    before the division is therefore results-identical, by the same
    margin argument as the length pre-filter. Row-identical at every
    tier, −51% at sf0.1 (7.45 → 3.64 s), −72% at sf1 (77.4 → 21.5 s)
    on top of the pre-filter (r18 banded-DP probe).

    Plan note: Catalyst orders the banded-DP conjunct AHEAD of the
    length conjunct in the join condition, so the explicit length
    predicate no longer short-circuits the DP — it doesn't need to:
    the banded DP itself early-exits with -1 in O(1) when
    ``|len_a − len_b| > k``, which is what subsumed the pre-filter's
    130 → 73 s win into the banded form's 73 → 21.5 s (the few rows
    with ``rel·max_len < gap <= k`` run a banded DP whose result the
    final filter then drops — same outcome, negligible cost). The
    predicate stays: it documents the reachability
    bound, costs nothing, and keeps the drop set correct under any
    future conjunct reordering.
    """
    cands = simhash_near_dup_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    len_gap = F.abs(F.length("text_a") - F.length("text_b"))
    rel = 1.0 - threshold + 1e-6
    lev_banded = F.expr(
        "levenshtein(text_a, text_b, cast(ceil({rel} * cast(greatest("
        "length(text_a), length(text_b)) as double)) as int))".format(rel=rel)
    )
    n_parts = spark.sparkContext.defaultParallelism * 2
    return (
        cands.repartition(n_parts, "doc_a", "doc_b")
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(
            len_gap.cast("double") <= F.lit(rel) * max_len.cast("double")
        )
        .withColumn("lev_d", lev_banded)
        .where(F.col("lev_d") >= 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("lev_d").cast("long").alias("edit_distance"),
            F.round(
                F.lit(1.0)
                - F.col("lev_d").cast("double") / max_len.cast("double"),
                6,
            ).alias("edit_sim"),
        )
        .where(F.col("edit_sim") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T192 — canonical-selection policy: exact-dup groups keep the
    HIGHEST-quality member (t27's composite; doc_id breaks ties) instead
    of t17's lowest-id — the policy real pipelines want, where the
    canonical copy should be the cleanest one, not the earliest-crawled.

    Same single fingerprint shuffle as t17 with the quality column
    riding along; the winner is one row_number window over the group.
    """
    from mapreduce_google_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    flagged = docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    ).join(quality, "doc_id")
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        flagged.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_dups",
            F.count("*").over(
                Window.partitionBy("fingerprint").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_id").cast("long").alias("kept_doc"),
            "quality",
            F.col("n_dups").cast("long").alias("n_dups"),
        )
        .orderBy("kept_doc")
    )


def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T213 — what dedup buys you, in bytes: per source, the characters
    (and docs) that exact dedup would DROP — the duplicate rows beyond
    each fingerprint group's kept copy — plus the resulting shrink
    fraction. The storage/compute-savings estimate that justifies
    running the pass at all.

    Same single fingerprint shuffle as t17; "dropped" is everything
    whose doc_id is not its group's minimum, so kept/dropped falls out
    of one min-window without a second aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
    ).withColumn(
        "kept",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fingerprint")),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(~F.col("kept"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_saved"),
            F.round(
                F.sum(F.when(~F.col("kept"), F.col("n_chars")).otherwise(0))
                .cast("double")
                / F.sum("n_chars").cast("double"),
                6,
            ).alias("shrink_fraction"),
        )
        .orderBy("source")
    )
