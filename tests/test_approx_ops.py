"""Quality gates for the approximate operators that have no SQL oracle:
MinHash-LSH near-dup (vs exact n-gram Jaccard) and IVF top-k (vs exact
brute-force cosine)."""

from __future__ import annotations

import numpy as np

from mapreduce_google_spark.io import load_table
from mapreduce_google_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from mapreduce_google_spark.operators.similarity import cosine_topk, ivf_topk


def _embeddings(spark, sf_dir) -> dict:
    """vec_id → float64 embedding, for numpy rechecks of reported
    cosines (an independent kernel from the JVM HOF the operators use)."""
    return {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }


def _np_cosine(a, b) -> float:
    return float(a @ b / ((np.linalg.norm(a) or 1.0) * (np.linalg.norm(b) or 1.0)))


def test_minhash_lsh_precision_and_recall(spark, sf_dir):
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert lsh, "LSH found no pair on a corpus with near-duplicates"
    # exact-verify stage ⇒ precision 1.0 by construction, with the exact
    # operator's jaccard value for every pair
    assert lsh.items() <= exact.items(), "LSH pair or jaccard differs from exact"
    assert min(lsh.values()) >= 0.5, "LSH pair below the threshold"
    if exact:
        recall = len(lsh) / len(exact)
        # 8 bands × 4 rows at threshold 0.5 ⇒ P(candidate) ≈ 1-(1-s^4)^8,
        # ≈0.88 at s=0.7, ≈1.0 at s≥0.9 — demand most pairs are found
        assert recall >= 0.5, f"LSH recall {recall:.2f} too low ({len(lsh)}/{len(exact)})"


def test_cosine_topk_gemm_equals_hof(spark, sf_dir):
    """t18's registered GEMM form must produce exactly the HOF form's
    rows — both compute dot/(|a|·|b|) and round to 6 BEFORE ranking, so
    the rank order is defined on identical values; this pins that the
    numpy batch path never drifts from the codegen expression path."""
    from mapreduce_google_spark.operators.similarity import cosine_topk_gemm

    hof = [tuple(r) for r in cosine_topk(spark, sf_dir).collect()]
    gemm = [tuple(r) for r in cosine_topk_gemm(spark, sf_dir).collect()]
    assert gemm == hof


def test_gemm_scored_relation_is_bounded(spark, sf_dir):
    """The r14 scale fix for t18's rank stage (VERDICT r13 "What's
    wrong #1"): the GEMM kernel folds each Arrow batch to its per-probe
    top-k, so the relation feeding the probe_id merge window carries at
    most P·k rows per batch — NOT the N·P it shuffled before (10^11
    rows into 10 non-empty partitions at 10^10 vectors). Upper-bounds
    the batch count by partitions + N/arrow_batch_size (Spark may split
    a partition into several Arrow batches, never merge across
    partitions)."""
    from mapreduce_google_spark.io import load_table
    from mapreduce_google_spark.operators.similarity import _gemm_scored

    emb = load_table(spark, sf_dir, "embeddings")
    n, n_parts = emb.count(), emb.rdd.getNumPartitions()
    p, k = 10, 5
    scored = _gemm_scored(spark, sf_dir, n_probes=p, k=k)
    batches_max = n_parts + n // 10_000 + 1
    count = scored.count()
    assert count <= p * k * batches_max, (count, p, k, batches_max)
    assert count < n * p, "kernel emitted the unbounded scored relation"
    # no self-matches survive the kernel mask
    assert scored.where("vec_id = probe_id").count() == 0


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up_6 vs F.round (ADVICE r13): np.round is
    half-to-EVEN while Spark/DuckDB round HALF_UP, a systematic
    divergence at exact .5e-6 boundaries. Pins the boundary cases both
    signs (2.5e-6 → 3e-6, where half-even gives 2e-6) and agreement
    with Spark's own rounding over a seeded generic sample."""
    import numpy as np

    from mapreduce_google_spark.operators.similarity import _round_half_up_6

    # exact decimal boundaries: HALF_UP rounds away from zero
    got = _round_half_up_6(np.array([2.5e-6, -2.5e-6, 1.5e-6, -1.5e-6]))
    assert got.tolist() == [3e-6, -3e-6, 2e-6, -2e-6]
    # np.round would have given the half-even 2e-6 here — the exact
    # divergence this helper exists to remove
    assert np.round(np.array([2.5e-6]), 6).tolist() == [2e-6]

    rng = np.random.default_rng(42)
    vals = np.concatenate(
        [rng.uniform(-1, 1, 500), np.array([0.1234565, -0.9999995, 0.5e-6])]
    )
    import pandas as pd
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(pd.DataFrame({"x": vals}))
    spark_rounded = [
        r.r for r in sdf.select(F.round("x", 6).alias("r")).collect()
    ]
    ours = _round_half_up_6(vals).tolist()
    assert ours == spark_rounded


def test_ivf_recall(spark, sf_dir):
    exact = {
        (r.probe_id, r.vec_id) for r in cosine_topk(spark, sf_dir).collect()
    }
    approx = {(r.probe_id, r.vec_id) for r in ivf_topk(spark, sf_dir).collect()}
    assert len(approx) == len(exact)
    recall = len(exact & approx) / len(exact)
    # probing 3/8 cells on clustered embeddings should keep most true
    # neighbors; this is a sanity floor, not a tuning target
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_ivf_fused_kernel_equals_registered(spark, sf_dir):
    """The registered t25 body (fused Arrow score+fold kernel over the
    materialized assignment index, VERDICT r14 wrong #2) must produce
    exactly the in-session :func:`ivf_topk` rows: the index holds the
    same deterministic assignment (seed centroids = lowest vec_ids), the
    kernel rounds HALF_UP like ``F.round`` and folds with the same
    tie-exact per-probe order, so the only differences are WHERE the
    assignment pass ran and how many Arrow crossings scoring takes."""
    from mapreduce_google_spark.operators.similarity import (
        ivf_topk_from_index_fused,
    )

    a = [tuple(r) for r in ivf_topk(spark, sf_dir).collect()]
    b = [tuple(r) for r in ivf_topk_from_index_fused(spark, sf_dir).collect()]
    assert a == b and len(a) > 0


def test_ivf_fused_kernel_equality_at_degenerate_params(spark, sf_dir):
    """The fused kernel's group-wise fold must honor the total order at
    the settings that stress its edges: k=1 (every boundary is a tie
    cut), k far above any cell's candidate count (kk=min(k, B) per
    batch, merge window completes the union), and single-cell probing
    (fewest candidates per probe, most ties at the k-th value). Each
    must equal the in-session :func:`ivf_topk` exactly."""
    from mapreduce_google_spark.operators.similarity import (
        ivf_topk_from_index_fused,
    )

    for kwargs in (
        {"k": 1},
        {"k": 50},
        {"n_probe_cells": 1, "k": 3},
        {"n_probes": 3, "k": 7},
    ):
        a = [tuple(r) for r in ivf_topk(spark, sf_dir, **kwargs).collect()]
        b = [
            tuple(r)
            for r in ivf_topk_from_index_fused(spark, sf_dir, **kwargs).collect()
        ]
        assert a == b and len(a) > 0, kwargs


def test_ivf_scans_fraction_of_vectors(spark, sf_dir):
    """The point of IVF: the candidate set is a strict subset of the
    corpus (here ≤ n_probe_cells/n_cells plus skew)."""
    from mapreduce_google_spark.io import load_table
    from mapreduce_google_spark.operators.similarity import ivf_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = ivf_assignments(emb, n_cells=8)
    per_cell = {r.cell_id: r.n for r in assigned.groupBy("cell_id").count().withColumnRenamed("count", "n").collect()}
    assert sum(per_cell.values()) == emb.count()  # every vector in exactly one cell
    assert len(per_cell) > 1, "all vectors collapsed into one IVF cell"


def test_approx_distinct_within_error(spark, sf_dir):
    """HLL++ estimate (rsd=0.01) must land within 2% of the exact
    distinct-token count."""
    from mapreduce_google_spark.operators.text import (
        approx_distinct_tokens,
        distinct_tokens,
    )

    exact = distinct_tokens(spark, sf_dir).collect()[0].n_tokens
    approx = approx_distinct_tokens(spark, sf_dir).collect()[0].approx_n_tokens
    assert abs(approx - exact) / exact <= 0.02, (approx, exact)


def test_hyperplane_lsh_recall_and_exactness(spark, sf_dir):
    from collections import defaultdict

    from mapreduce_google_spark.operators.similarity import hyperplane_lsh_topk

    k = 5
    exact_rows = cosine_topk(spark, sf_dir, k=k).collect()
    exact = {(r.probe_id, r.vec_id) for r in exact_rows}
    exact_cos = {(r.probe_id, r.vec_id): r.cosine for r in exact_rows}
    exact_at_rank = {(r.probe_id, r.rank): r.cosine for r in exact_rows}
    approx_rows = hyperplane_lsh_topk(spark, sf_dir, k=k).collect()
    assert approx_rows, "hyperplane LSH returned nothing"
    emb = _embeddings(spark, sf_dir)
    probe_set = set(sorted(emb)[:10])  # the declared n_probes lowest vec_ids
    per_probe = defaultdict(list)
    for r in approx_rows:
        assert r.probe_id != r.vec_id
        # returned cosines are the TRUE cosines (verify stage is exact):
        # the exact operator's where both report the pair, and a numpy
        # recheck for every pair
        if (r.probe_id, r.vec_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.probe_id, r.vec_id)]) < 1e-9
        assert abs(r.cosine - _np_cosine(emb[r.probe_id], emb[r.vec_id])) <= 1e-6, r
        per_probe[r.probe_id].append(r)
    assert set(per_probe) <= probe_set, sorted(set(per_probe) - probe_set)
    for probe, rows in per_probe.items():
        rows.sort(key=lambda r: r.rank)
        # ranks run 1..n with n ≤ k; cosine non-increasing, ties by vec_id
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= k, (probe, len(rows))
        keys = [(-r.cosine, r.vec_id) for r in rows]
        assert keys == sorted(keys), (probe, keys)
        # an approximate rank-r neighbor is never closer than the exact one
        for r in rows:
            assert r.cosine <= exact_at_rank[(probe, r.rank)], r
    recall = len(exact & {(r.probe_id, r.vec_id) for r in approx_rows}) / len(exact)
    # 8 tables x 6 bits OR-amplification on random-ish vectors: a floor,
    # not a tuning target
    assert recall >= 0.15, f"hyperplane LSH recall {recall:.2f}"


def test_dedup_clusters_cover_exact_dup_groups(spark, sf_dir):
    """Exact duplicates (identical normalized text ⇒ jaccard 1.0 ⇒
    identical MinHash signatures) MUST land in the same cluster, and every
    cluster label must be the min doc_id of its members."""
    from collections import defaultdict

    from mapreduce_google_spark.operators.dedup import dedup_clusters, exact_dedup

    rows = dedup_clusters(spark, sf_dir).collect()
    clusters = {r.doc_id: r.cluster_id for r in rows}
    assert clusters, "no near-dup clusters found at all"
    assert len(clusters) == len(rows), "a doc is labeled twice"
    # cluster label == min member id
    members = defaultdict(list)
    for doc, lbl in clusters.items():
        members[lbl].append(doc)
    for lbl, docs in members.items():
        assert lbl == min(docs), (lbl, docs)
    # the stamped size is the member count
    for r in rows:
        assert r.cluster_size == len(members[r.cluster_id]), r
    # every LSH near-dup pair must be in ONE cluster (edges respected)
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").collect()
    for r in pairs:
        assert clusters[r.doc_a] == clusters[r.doc_b], (r.doc_a, r.doc_b)
    # the labeled docs are exactly the pair graph's endpoints
    assert set(clusters) == {d for r in pairs for d in (r.doc_a, r.doc_b)}
    # exact duplicates (identical signatures) must co-cluster — the
    # fixture has none at sf0.001, so this arm only fires when present
    for r in exact_dedup(spark, sf_dir).collect():
        if r.n_dups >= 2:
            assert r.doc_id in clusters


def test_packing_invariants(spark, sf_dir, duck):
    """T64: every document lands in exactly one pack and no token is
    invented or lost; no pack exceeds the budget unless it holds a
    single oversized doc; the result is deterministic across runs; pack
    count is near the lower bound."""
    from mapreduce_google_spark.operators.text import pack_documents

    budget = 256
    packs = pack_documents(spark, sf_dir, budget=budget).collect()
    n_docs, n_tokens = duck.execute(
        """SELECT count(*), sum(len(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '')))
           FROM documents"""
    ).fetchone()
    assert sum(r.n_docs for r in packs) == n_docs
    assert sum(r.n_tokens for r in packs) == n_tokens
    for r in packs:
        assert r.n_tokens <= budget or r.n_docs == 1, r
    # deterministic re-run
    again = pack_documents(spark, sf_dir, budget=budget).collect()
    assert [tuple(r) for r in packs] == [tuple(r) for r in again]
    # waste bound: shard-local greedy stays within 2x of the global
    # lower bound at this corpus' doc-length distribution
    assert len(packs) <= 2 * (n_tokens // budget + 16)


def test_boilerplate_footer_does_not_explode_candidates(
    spark, tmp_path, store_root_in_tmp_path
):
    """max_df / max_bucket skew guards: a shared footer must not turn
    near-dup detection into an all-pairs join.

    Corpus: 30 docs with unique 20-word bodies + one shared 60-word
    footer (footer shingles dominate ⇒ uncapped Jaccard ≈ 0.59 between
    EVERY pair), plus one true duplicate pair (ids 100/101).
    """
    footer = " ".join(f"footer{k}" for k in range(60))
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(20)) + " " + footer)
            for i in range(30)]
    dup_body = " ".join(f"dup{j}" for j in range(20))
    rows += [(100, dup_body + " " + footer), (101, dup_body + " " + footer)]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )

    uncapped = ngram_jaccard_pairs(spark, sf).count()
    assert uncapped == 32 * 31 // 2, "footer should force every pair over threshold"

    capped = ngram_jaccard_pairs(spark, sf, max_df=5).collect()
    assert [(r.doc_a, r.doc_b) for r in capped] == [(100, 101)]
    assert capped[0].jaccard == 1.0  # identical docs once footer is stripped

    lsh = minhash_lsh_pairs(spark, sf, max_df=5).collect()
    assert [(r.doc_a, r.doc_b) for r in lsh] == [(100, 101)]

    # bucket cap alone: max_bucket=1 drops every bucket that could emit a
    # candidate pair — the guard must reach the candidate join
    assert minhash_lsh_pairs(spark, sf, max_bucket=1).count() == 0

    # warn_df guard (non-semantic): fires on the boilerplate corpus
    # (footer df=32 > warn_df=5), names the fan-out, and changes NOTHING
    # about the result set
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        warned = ngram_jaccard_pairs(spark, sf, warn_df=5).count()
    hot = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert hot and "quadratic" in str(hot[0].message)
    assert warned == uncapped, "warn_df must not change results"

    # the REGISTERED default (max_bucket=1000) is a pure safety net: on
    # buckets under the cap it must change nothing vs guards-off
    unguarded = minhash_lsh_pairs(spark, sf, max_bucket=None).count()
    assert minhash_lsh_pairs(spark, sf).count() == unguarded


def test_t21_warn_df_guard_silent_on_clean_corpus(spark, sf_dir):
    """The default warn_df=1000 guard must be a no-op on the real test
    corpus: no warning, identical pairs to the guard-off run."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        guarded = {tuple(r) for r in ngram_jaccard_pairs(spark, sf_dir).collect()}
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
    bare = {
        tuple(r) for r in ngram_jaccard_pairs(spark, sf_dir, warn_df=None).collect()
    }
    assert guarded == bare and len(guarded) > 0


def test_embedding_lsh_pairs_equal_exact(spark, sf_dir):
    """t24's LSH-candidate → verify pipeline must reproduce the exact
    all-pairs result on the oracle datasets (64 tables x 3 bits ⇒
    expected misses ~5e-6 — see operator docstring)."""
    from mapreduce_google_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exact,
    )

    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup_pairs_exact(spark, sf_dir).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup_pairs(spark, sf_dir).collect()
    }
    assert lsh == exact


def test_approx_percentiles_within_rank_error(spark, sf_dir):
    """T71's GK sketch vs T35's exact interpolation: with accuracy=1000
    the rank error is ≤ 0.1%, so on ~300-member segments the approx
    value must land within the neighborhood of the exact one (a few
    adjacent order statistics — bounded here by 2% of the value range)."""
    from mapreduce_google_spark.operators.relational import (
        approx_segment_percentiles,
        segment_percentiles,
    )

    from mapreduce_google_spark.io import load_table

    exact = {r.c_mktsegment: r for r in segment_percentiles(spark, sf_dir).collect()}
    approx = {
        r.c_mktsegment: r for r in approx_segment_percentiles(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    vals: dict[str, list[float]] = {}
    for r in load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal"
    ).collect():
        vals.setdefault(r.c_mktsegment, []).append(r.c_acctbal)

    def rank_q(seg: str, v: float) -> float:
        s = sorted(vals[seg])
        import bisect

        return bisect.bisect_left(s, v) / max(len(s) - 1, 1)

    for seg, a in approx.items():
        assert a.n_customers == exact[seg].n_customers
        # GK guarantees the returned value is an actual element whose rank
        # is within 1/accuracy of the target quantile; on tiny sf0.001
        # groups (~30 rows) grant ±2 order statistics of slack
        slack = 1 / 1000 + 2.5 / a.n_customers
        assert round(a.median_acctbal, 2) in [round(v, 2) for v in vals[seg]]
        assert abs(rank_q(seg, a.median_acctbal) - 0.5) <= slack, (seg, a)
        assert abs(rank_q(seg, a.p90_acctbal) - 0.9) <= slack, (seg, a)


def test_lsh_from_band_table_equals_direct(spark, sf_dir):
    """The materialized-band-table LSH path (signature pass paid once,
    candidate-only verify) must produce exactly the direct operator's
    pairs."""
    from mapreduce_google_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_from_bands,
    )

    direct = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(spark, sf_dir).collect()
    }
    from_tbl = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs_from_bands(spark, sf_dir).collect()
    }
    assert from_tbl == direct


def test_lsh_retok_fallback_matches_direct_with_max_df(spark, sf_dir):
    """ADVICE r14: with max_df set, the stop-set must come from
    FULL-corpus document frequencies on both paths — a stop-set derived
    from the candidate-pruned documents skews every df count and can
    flip which shingles survive. Pin the store path equal to the direct
    operator at a max_df low enough that the stop-set is non-empty (so
    the test actually exercises the capped computation)."""
    from pyspark.sql import functions as F

    from mapreduce_google_spark.operators.dedup import (
        _doc_shingle_arrays,
        minhash_lsh_pairs,
        minhash_lsh_pairs_from_bands,
    )
    from mapreduce_google_spark.io import load_table

    max_df = 3
    stop_n = (
        _doc_shingle_arrays(load_table(spark, sf_dir, "documents"))
        .select(F.explode("shingles").alias("s"))
        .groupBy("s")
        .count()
        .where(F.col("count") > max_df)
        .count()
    )
    assert stop_n > 0, "max_df too high to exercise the stop-set"
    direct = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(spark, sf_dir, max_df=max_df).collect()
    }
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs_from_bands(
            spark, sf_dir, max_df=max_df
        ).collect()
    }
    assert stored == direct


def test_signatures_from_hashes_equal_string_pipeline(spark, sf_dir):
    """The band-table build derives MinHash signatures from the stored
    xxhash64 values, the in-session pipeline from the raw shingle
    strings; both share one fold (``_signatures_from_hashes``), which
    hashes the strings inside its transform. Hashing first into the
    store's sorted distinct array must not change a signature: per-doc
    signatures must be EQUAL, not merely produce the same candidate
    pairs."""
    from pyspark.sql import functions as F

    from mapreduce_google_spark.io import load_table
    from mapreduce_google_spark.operators.dedup import (
        _doc_shingle_arrays,
        _signatures_from_hashes,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sets = _doc_shingle_arrays(docs, 3)
    ref = {
        r.doc_id: tuple(r.signature)
        for r in minhash_signatures(docs, 3, 32, shingle_arrays=sets).collect()
    }
    hashed = sets.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s)))
        ).alias("xh"),
    )
    got = {
        r.doc_id: tuple(r.signature)
        for r in _signatures_from_hashes(hashed, 32).collect()
    }
    assert got == ref and len(ref) > 0


def test_lsh_steady_state_never_scans_raw_corpus(spark, sf_dir):
    """With both durable assets in place (band table + shingle store),
    a t22 run must not touch documents.parquet at all: candidates come
    from the band table, verify arrays from the shingle store. This is
    the steady-state property the r14 store buys — re-tokenizing
    candidates was the remaining per-run cost (VERDICT r13 item 4)."""
    from mapreduce_google_spark.operators.dedup import (
        minhash_lsh_pairs_from_bands,
    )
    from mapreduce_google_spark.plans import formatted_plan

    df = minhash_lsh_pairs_from_bands(spark, sf_dir)
    plan = formatted_plan(df)
    assert "documents.parquet" not in plan, plan
    # and the store-backed run still returns a plausible pair set
    assert df.count() > 0


def test_kmeans_clusters_invariants(spark, sf_dir):
    """Lloyd's fit (t82): full coverage, every vector in a valid cell at
    a valid cosine, deterministic across runs, and training must improve
    mean assignment cosine over the raw seeds."""
    from mapreduce_google_spark.operators.similarity import (
        _assign_cells,
        kmeans_cluster_stats,
        kmeans_fit,
    )

    trained = kmeans_cluster_stats(spark, sf_dir, n_cells=8, iters=3).collect()
    total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r.n_members for r in trained) == total
    assert len(trained) <= 8
    assert all(r.min_cos <= r.mean_cos for r in trained)
    # per-vector assignment of the same fit: a cell in [0, 8) and a
    # cosine of magnitude ≤ 1 for every vector
    emb = load_table(spark, sf_dir, "embeddings")
    assign = _assign_cells(kmeans_fit(emb, 8, 3))
    assigned = emb.select(assign("embedding").alias("a")).select("a.*").collect()
    assert len(assigned) == total
    for r in assigned:
        assert 0 <= r.cell < 8 and abs(r.cos) <= 1 + 1e-6, r

    again = kmeans_cluster_stats(spark, sf_dir, n_cells=8, iters=3).collect()
    assert [tuple(r) for r in trained] == [tuple(r) for r in again]

    seed = kmeans_cluster_stats(spark, sf_dir, n_cells=8, iters=0).collect()
    wm = lambda rows: sum(r.mean_cos * r.n_members for r in rows) / total
    assert wm(trained) > wm(seed), (wm(trained), wm(seed))


def test_t222_repetition_flags_planted_docs(spark, tmp_path):
    """The Gopher-threshold screen must flag a planted pathological doc
    (one token repeated: dup rates ~1 across all three grams), must NOT
    flag an all-distinct doc (rates exactly 0), and the reported rates
    must be the exact micro-averages."""
    from mapreduce_google_spark.operators.textstats import intradoc_repetition

    diverse = " ".join(f"w{i}" for i in range(40))  # all words distinct
    spammy = " ".join(["spam"] * 40)
    rows = [(1, diverse, "en", "clean", len(diverse)),
            (2, spammy, "en", "spam", len(spammy))]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = {r.source: r for r in intradoc_repetition(spark, sf).collect()}
    assert got["clean"].n_flagged == 0
    assert got["clean"].dup_word_rate == 0.0
    assert got["clean"].dup_2gram_rate == 0.0
    assert got["spam"].n_flagged == 1
    # 40 occurrences, 1 distinct → (40-1)/40; 39 bigrams, 1 distinct...
    assert got["spam"].dup_word_rate == round(39 / 40, 6)
    assert got["spam"].dup_2gram_rate == round(38 / 39, 6)
    assert got["spam"].dup_3gram_rate == round(37 / 38, 6)


def test_incremental_dedup_from_store_equals_direct(spark, sf_dir):
    """The bucketed-store ingest path must reproduce t65's exact
    result (same survivors, same batch-dup counts)."""
    from mapreduce_google_spark.operators.dedup import (
        incremental_dedup,
        incremental_dedup_from_store,
    )

    direct = [tuple(r) for r in incremental_dedup(spark, sf_dir).collect()]
    stored = [tuple(r) for r in incremental_dedup_from_store(spark, sf_dir).collect()]
    assert stored == direct and len(direct) > 0


def test_bucketed_tables_adopted_not_rebuilt_across_sessions(spark, sf_dir):
    """A fresh session's in-memory catalog loses the table entry while
    the bucketed parquet survives; the builder must ADOPT the files via
    DDL (metadata-only, file mtimes untouched) instead of re-running the
    signature pass, and the adopted table must keep the bucketed-scan
    property (exchange-free candidate join)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from mapreduce_google_spark.io import shared_store_path
    from mapreduce_google_spark.operators.dedup import minhash_band_table_counted
    from mapreduce_google_spark.plans import formatted_plan

    name = minhash_band_table_counted(spark, sf_dir)
    # the effective name doubles as the store's directory name under the
    # per-user root (r14 moved stores off the world-writable /tmp/{name})
    path = shared_store_path(name)
    before = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part-*")}
    assert before, "band table has no files"
    # simulate the fresh-session state: catalog entry gone, files kept
    # (DROP on this external table removes metadata only)
    spark.sql(f"DROP TABLE {name}")
    assert os.path.exists(os.path.join(path, "_SUCCESS"))

    name2 = minhash_band_table_counted(spark, sf_dir)
    assert name2 == name
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part-*")}
    assert after == before, "adoption rewrote the table"
    banded = spark.table(name)
    a, b = banded.hint("merge").alias("a"), banded.alias("b")
    plan = formatted_plan(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
    )
    assert "SortMergeJoin" in plan and "Exchange" not in plan, plan


def test_adoption_refuses_non_bucketed_files(spark, tmp_path):
    """A warm directory holding PLAIN parquet at the table's path (e.g.
    left by an older layout or a foreign writer) must be rebuilt, never
    adopted — adopting it would make every scan fail with
    'Invalid bucket file' or silently mis-route co-located joins. Plain
    parquet carries no ``_BUCKET_SPEC.json`` sidecar, so the adoption
    check rejects it."""
    import os

    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )

    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    base = str(tmp_path / "poisoned")
    suffix = bucket_table_suffix(4, ["k"])
    # plant non-bucketed files at the EXACT path the builder will use
    df.write.mode("overwrite").parquet(f"{base}{suffix}")
    assert os.path.exists(f"{base}{suffix}/_SUCCESS")

    name = adopt_or_build_bucketed_table(
        spark, "mgs_test_poisoned_adopt", base, ["k"], 4, lambda: df
    )
    try:
        assert name.endswith(suffix)
        # scan + bucket metadata must both be healthy after the rebuild
        assert spark.table(name).count() == 100
        data_files = [
            f for f in os.listdir(f"{base}{suffix}") if f.startswith("part-")
        ]
        assert all("_000" in f for f in data_files), data_files
        # the rebuilt store is sidecar-stamped (adoptable next session)
        assert os.path.exists(f"{base}{suffix}/_BUCKET_SPEC.json")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucket_count_is_part_of_table_identity(spark, tmp_path):
    """Calling with a different num_buckets must land on a DIFFERENT
    table+path — files hashed mod M adopted under metadata declaring N
    silently break co-located anti-joins (the incremental-dedup wrong-
    results scenario)."""
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )

    df = spark.range(50).selectExpr("id", "id % 3 AS k")
    base = str(tmp_path / "identity")
    n4 = adopt_or_build_bucketed_table(
        spark, "mgs_test_identity", base, ["k"], 4, lambda: df
    )
    n8 = adopt_or_build_bucketed_table(
        spark, "mgs_test_identity", base, ["k"], 8, lambda: df
    )
    # None is the session's parallelism — a count of its own, so it
    # adopts n4/n8 only when it equals theirs
    n_default = adopt_or_build_bucketed_table(
        spark, "mgs_test_identity", base, ["k"], None, lambda: df
    )
    default = spark.sparkContext.defaultParallelism
    try:
        assert n4 != n8
        assert n4.endswith(bucket_table_suffix(4, ["k"]))
        assert n8.endswith(bucket_table_suffix(8, ["k"]))
        assert n_default.endswith(bucket_table_suffix(default, ["k"]))
        assert (n_default == n4) == (default == 4)
        assert (n_default == n8) == (default == 8)
        # both sidecar-stamped stores coexist
        assert spark.table(n4).count() == spark.table(n8).count() == 50
        assert spark.table(n_default).count() == 50
    finally:
        for n in {n4, n8, n_default}:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_t24_auto_param_derivation():
    """t24's corpus-sized LSH parameters: oracle scale must resolve to
    EXACTLY (3, 64); bigger corpora get
    log-scaled bits with the table count re-derived from the collision
    probability at the threshold boundary, floored at 64 and capped at
    256 (at theta=0.4 / b=12 the delta=1e-3 count is ~1,740 — the cap
    is the documented recall tradeoff, while theta=0.7 fits under it)."""
    import math

    from mapreduce_google_spark.operators.similarity import (
        _auto_lsh_near_dup_params,
    )

    assert _auto_lsh_near_dup_params(500, 0.4) == (3, 64)
    assert _auto_lsh_near_dup_params(0, 0.4) == (3, 64)  # missing table
    b_01, t_01 = _auto_lsh_near_dup_params(5_000, 0.4)
    assert (b_01, t_01) == (7, 174)
    b_1, t_1 = _auto_lsh_near_dup_params(200_000, 0.4)
    assert (b_1, t_1) == (12, 256)  # capped: low-threshold tradeoff
    # expected bucket stays ~target regardless of N
    for n in (5_000, 200_000, 20_000_000):
        b, _ = _auto_lsh_near_dup_params(n, 0.4)
        assert 32 <= n / 2**b <= 128, (n, b)
    # at a true near-dup threshold the re-derived table count fits the
    # cap with delta honored
    b7, t7 = _auto_lsh_near_dup_params(200_000, 0.7)
    p7 = 1 - math.acos(0.7) / math.pi
    assert t7 < 256 and (1 - p7**b7) ** t7 <= 1e-3


def test_t24_auto_equals_registered_at_oracle_scale(spark, sf_dir):
    """The registered t24 builder sizes its LSH parameters from the
    corpus; at oracle scale they resolve to (3, 64) and its result must
    be IDENTICAL to the exact all-pairs form, whose HOF cosine is also
    the rounding reference for the Arrow verify kernel. The max_bucket
    guard never fires at N=500 (cap 10,000) and must appear in the plan
    exactly when on."""
    from mapreduce_google_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exact,
    )
    from mapreduce_google_spark.plans import formatted_plan
    from mapreduce_google_spark.queries import REGISTRY

    assert REGISTRY["t24_embedding_near_dup"].builder is embedding_near_dup_pairs
    exact = [
        tuple(r) for r in embedding_near_dup_pairs_exact(spark, sf_dir).collect()
    ]
    registered = [
        tuple(r) for r in embedding_near_dup_pairs(spark, sf_dir).collect()
    ]
    assert registered == exact and len(exact) > 0
    nocap = [
        tuple(r)
        for r in embedding_near_dup_pairs(
            spark, sf_dir, max_bucket=None
        ).collect()
    ]
    assert nocap == exact
    plan_on = formatted_plan(embedding_near_dup_pairs(spark, sf_dir))
    plan_off = formatted_plan(
        embedding_near_dup_pairs(spark, sf_dir, max_bucket=None)
    )
    assert "LeftAnti" in plan_on, plan_on
    assert "LeftAnti" not in plan_off, plan_off


def test_semantic_dedup_auto_cells_and_laws(spark, sf_dir):
    """SemDeDup's cell count is derived from the corpus size: the
    derivation clamps to 8 cells at oracle scale and scales the cell
    count linearly with N in between the clamps. Its output obeys the
    drop rule: every reported cosine is the true one and ≥ tau, the
    keeper has the lower id, no two survivors of one cell are within
    tau, and something is dropped."""
    from mapreduce_google_spark.io import parquet_rows
    from mapreduce_google_spark.operators.similarity import (
        _auto_semantic_cells,
        semantic_dedup,
    )

    assert _auto_semantic_cells(500) == 8
    assert _auto_semantic_cells(0) == 8
    assert _auto_semantic_cells(5_000) == 10
    assert _auto_semantic_cells(200_000) == 400
    assert _auto_semantic_cells(10_000_000) == 4096  # broadcast cap
    tau = 0.4
    n_cells = _auto_semantic_cells(parquet_rows(sf_dir, "embeddings"))
    dropped_df, assigned_df = semantic_dedup(spark, sf_dir, n_cells, 3, tau)
    dropped = dropped_df.collect()
    assigned = {
        r.vec_id: (r.cell_id, np.asarray(r.embedding, dtype=np.float64))
        for r in assigned_df.collect()
    }
    assert dropped, "SemDeDup dropped nothing"
    for r in dropped:
        assert r.keeper_id < r.vec_id, r
        cos = _np_cosine(assigned[r.keeper_id][1], assigned[r.vec_id][1])
        assert abs(r.cosine - cos) <= 1e-6 and r.cosine >= tau, (r, cos)
    # a survivor has no lower-id partner at ≥ tau in its cell, so no two
    # survivors of one cell may be that close
    gone = {r.vec_id for r in dropped}
    survivors = sorted(v for v in assigned if v not in gone)
    for i, a in enumerate(survivors):
        for b in survivors[i + 1 :]:
            if assigned[a][0] == assigned[b][0]:
                cos = round(_np_cosine(assigned[a][1], assigned[b][1]), 6)
                assert cos < tau, (a, b, cos)
