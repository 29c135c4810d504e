"""Adversarial-corpus equality fuzz for the r16–r18 default flips.

The r16 flips (t12 → pre-joined custkey line store, t45 → range-frame
window) were equality-gated on the TPC-H-shaped test corpora at three
tiers — but shaped corpora can't probe the edges where a rewrite
usually breaks: same-microsecond ties, pairs exactly ON the window
boundary, pathological per-user skew, and referential raggedness
(customers without orders, orders without lines, dangling foreign
keys). These tests build SMALL GENERATED corpora that concentrate
exactly those edges and pin:

* every registered form (default + forced references) agrees on them;
* the default agrees with an INDEPENDENT implementation — a pure-Python
  brute force for t45 and the DuckDB oracle SQL for t12 — so a shared
  Spark-side bug cannot hide behind cross-form agreement.

Deterministic seeds: failures replay."""

from __future__ import annotations

import datetime
import random
from collections import Counter, defaultdict

import pandas as pd

from tests.oracle import assert_matches_oracle


def _write_parquet(tmp_path, name: str, df: pd.DataFrame) -> None:
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


# --- t45: range-frame window vs raw join vs brute force --------------------


def _adversarial_events(seed: int = 1601) -> pd.DataFrame:
    rng = random.Random(seed)
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []

    def add(user, micros_offset, etype):
        rows.append(
            {
                "event_id": len(rows),
                "ts": base + datetime.timedelta(microseconds=micros_offset),
                "user_id": user,
                "event_type": etype,
            }
        )

    types = ["click", "view", "buy", "scroll", "hover"]
    # bot user 7: 300 events packed into 90 s (per-user skew — the
    # range-frame's per-row frame buffer and the join's fan-out both
    # stress here)
    t = 0
    for _ in range(300):
        t += rng.randint(1, 600_000)  # ≤0.6 s steps
        add(7, t, rng.choice(types))
    # user 3: same-microsecond ties — strictly-after must EXCLUDE both
    # directions of an equal-timestamp pair
    for k in range(4):
        tie = 5_000_000 + k * 10_000_000
        add(3, tie, "click")
        add(3, tie, "view")
    # user 5: pairs exactly ON the 60 s boundary (inclusive) and 1 µs
    # past it (exclusive)
    add(5, 0, "click")
    add(5, 60_000_000, "view")  # dt == window  → counted
    add(5, 120_000_001, "buy")  # dt == window+1µs from the previous → not
    # user 9: pair straddling a 60 s bucket boundary (59.999999 s and
    # 60.000001 s) — the join form must find it in the adjacent bucket
    add(9, 59_999_999, "click")
    add(9, 60_000_001, "view")
    # background: 40 users, sparse-to-dense mixed cadence
    for _ in range(1500):
        add(
            rng.randint(10, 49),
            rng.randint(0, 3_600_000_000),  # one hour span
            rng.choice(types),
        )
    return pd.DataFrame(rows)


def _brute_force_pairs(df: pd.DataFrame, window_s: int) -> dict:
    per_user = defaultdict(list)
    for r in df.itertuples(index=False):
        micros = int(r.ts.value // 1000)  # pandas Timestamp ns → µs
        per_user[r.user_id].append((micros, r.event_type))
    exp: Counter = Counter()
    w = window_s * 1_000_000
    for evs in per_user.values():
        evs.sort()
        for i, (ta, tya) in enumerate(evs):
            for tb, tyb in evs[i + 1 :]:
                if tb - ta > w:
                    break
                if tb == ta:
                    continue  # strictly-after excludes exact ties
                exp[(tya, tyb)] += 1
    return dict(exp)


def test_t45_forms_agree_on_adversarial_corpus(
    spark, tmp_path, store_root_in_tmp_path
):
    """The registered t45 body and its raw-join reference must agree
    with each other AND a pure-Python brute force on a corpus
    concentrating ties, boundary pairs, bucket straddles, and per-user
    skew — at three window widths (the narrow 1 s window exercises
    empty frames; 3600 s makes the bot user's whole burst one frame)."""
    from mapreduce_google_spark.operators.scale import (
        event_pairs_within_minute,
        event_pairs_within_minute_raw_join,
    )

    pdf = _adversarial_events()
    _write_parquet(tmp_path, "events", pdf)
    sf_dir = str(tmp_path)
    for window_s in (1, 60, 3600):
        expected = _brute_force_pairs(pdf, window_s)
        results = {}
        for fn in (event_pairs_within_minute, event_pairs_within_minute_raw_join):
            got = {
                (r["type_a"], r["type_b"]): r["n_pairs"]
                for r in fn(spark, sf_dir, window_s=window_s).collect()
            }
            results[fn.__name__] = got
            assert got == expected, (
                window_s,
                fn.__name__,
                sorted(set(got.items()) ^ set(expected.items()))[:5],
            )
        assert (
            results["event_pairs_within_minute"]
            == results["event_pairs_within_minute_raw_join"]
        )


# --- t12: pre-joined store vs direct join vs DuckDB oracle ----------------


def _ragged_tpch(tmp_path, seed: int = 1602) -> None:
    rng = random.Random(seed)
    regions = pd.DataFrame(
        {"r_regionkey": [0, 1], "r_name": ["EAST", "WEST"]}
    )
    nations = pd.DataFrame(
        {
            "n_nationkey": list(range(5)),
            "n_regionkey": [0, 0, 1, 1, 1],
            "n_name": ["ALPHA", "BRAVO", "CHARLIE", "DELTA", "ECHO"],
        }
    )
    # customers 1..30; 25..30 will get NO orders
    customers = pd.DataFrame(
        {
            "c_custkey": list(range(1, 31)),
            "c_nationkey": [rng.randint(0, 4) for _ in range(30)],
        }
    )
    # orders over custkeys 1..35 — 31..35 dangle (no customer row);
    # orders 181..200 will get NO lineitems
    orders = pd.DataFrame(
        {
            "o_orderkey": list(range(1, 201)),
            "o_custkey": [
                rng.choice([k for k in range(1, 36) if k not in range(25, 31)])
                for _ in range(200)
            ],
        }
    )
    lines = []
    for ok in range(1, 181):
        for _ in range(rng.randint(1, 5)):
            lines.append(
                {
                    "l_orderkey": ok,
                    "l_extendedprice": round(rng.uniform(1.0, 99_999.99), 2),
                    "l_discount": round(rng.randint(0, 10) / 100, 2),
                }
            )
    _write_parquet(tmp_path, "region", regions)
    _write_parquet(tmp_path, "nation", nations)
    _write_parquet(tmp_path, "customer", customers)
    _write_parquet(tmp_path, "orders", orders)
    _write_parquet(tmp_path, "lineitem", pd.DataFrame(lines))


_T12_ORACLE = """
    SELECT r_name, n_name,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(3,2))
                             - CAST(l_discount AS DECIMAL(3,2))))
                      AS DOUBLE), 6) AS revenue,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def test_t12_forms_agree_on_ragged_corpus(
    spark, tmp_path, store_root_in_tmp_path
):
    """The registered t12 body and its direct reference must agree with
    each other AND the registered
    DuckDB oracle SQL on a corpus with referential raggedness: customers
    without orders (must not appear — inner joins), orders without
    lineitems (contribute nothing), and orders whose custkey has no
    customer row (dropped in the customer join). The pre-joined store is
    built fresh for this corpus (cache_tag keys on the source files), so
    the store-build join path is exercised on the ragged shape too."""
    import duckdb

    _ragged_tpch(tmp_path)
    sf_dir = str(tmp_path)
    from mapreduce_google_spark.operators.relational import (
        revenue_rollup,
        revenue_rollup_direct,
    )

    a = [tuple(r) for r in revenue_rollup(spark, sf_dir).collect()]
    c = [tuple(r) for r in revenue_rollup_direct(spark, sf_dir).collect()]
    assert a == c and len(a) > 0
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    assert_matches_oracle(
        revenue_rollup(spark, sf_dir), con, _T12_ORACLE, "t12_ragged"
    )


# --- t22: counted guard vs in-session anti-join guard on a boilerplate corpus


def _boilerplate_documents(seed: int = 1701) -> pd.DataFrame:
    """70 documents: 30 exact-copy boilerplate pages (identical MinHash
    signatures -> one size-30 bucket in EVERY band: the degenerate shape
    the max_bucket guard exists for) + 40 normal docs from a closed
    vocabulary with a few genuine near-dup pairs."""
    rng = random.Random(seed)
    vocab = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    ]
    boiler = "terms of service apply to all pages on this site please read carefully before use"
    rows = [{"doc_id": i, "text": boiler} for i in range(30)]
    for i in range(30, 70):
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 20))]
        rows.append({"doc_id": i, "text": " ".join(words)})
        # plant a near-dup twin for every 8th doc: same words, one swap
        if i % 8 == 0:
            twin = list(words)
            twin[len(twin) // 2] = rng.choice(vocab)
            rows.append({"doc_id": 1000 + i, "text": " ".join(twin)})
    return pd.DataFrame(rows)


def test_t22_guard_forms_agree_on_boilerplate_corpus(
    spark, tmp_path, store_root_in_tmp_path
):
    """The r17 flip gate, fuzzed where the guard actually FIRES: on a
    corpus with a planted 30-copy boilerplate cluster, the counted
    table's pushed ``bucket_n <= max_bucket`` filter must drop exactly
    the rows the in-session :func:`minhash_lsh_pairs` per-query
    aggregation + broadcast anti-join drops — at a cap the cluster
    exceeds (5: all its pairs vanish, non-vacuity asserted both ways),
    at a cap above it (1000: guard passes everything), and with the
    guard OFF (None: both paths emit the boilerplate's 435 pairs). The
    counted store build runs fresh on this corpus, so build-time
    bucket_n stamping is exercised on the degenerate shape too."""
    from mapreduce_google_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_from_bands,
    )

    pdf = _boilerplate_documents()
    _write_parquet(tmp_path, "documents", pdf)
    sf_dir = str(tmp_path)
    by_cap = {}
    for cap in (5, 1000, None):
        counted = sorted(
            tuple(r)
            for r in minhash_lsh_pairs_from_bands(
                spark, sf_dir, max_bucket=cap
            ).collect()
        )
        anti = sorted(
            tuple(r)
            for r in minhash_lsh_pairs(spark, sf_dir, max_bucket=cap).collect()
        )
        assert counted == anti, (cap, len(counted), len(anti))
        by_cap[cap] = counted
    boiler_pairs = {
        (a, b) for a in range(30) for b in range(30) if a < b
    }
    got_none = {(r[0], r[1]) for r in by_cap[None]}
    got_small = {(r[0], r[1]) for r in by_cap[5]}
    # guard off: the boilerplate cluster's 435 identical-pair edges emit
    assert boiler_pairs <= got_none
    # cap=5: the size-30 bucket is pruned in every band -> none survive,
    # but the guard must NOT eat the normal near-dup twins
    assert not (boiler_pairs & got_small)
    assert got_small, "guard wiped the whole result - cap semantics broken"
    assert by_cap[1000] == by_cap[None]


# --- t77: simhash bucket guard vs independent brute force -------------------


def _simhash_boilerplate_documents(seed: int = 1801) -> pd.DataFrame:
    """30 exact-copy boilerplate pages (identical simhash -> one size-30
    bucket in EVERY band: the degenerate shape the max_bucket guard
    exists for) + a 4-copy mini-cluster (bucket size 4: survives cap=5,
    pruned at cap=3 -> deterministic non-vacuity both ways) + 40 normal
    closed-vocabulary docs."""
    rng = random.Random(seed)
    vocab = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    ]
    boiler = "terms of service apply to all pages on this site please read carefully before use"
    mini = "quarterly shareholder disclosure statement pursuant to section eleven"
    rows = [{"doc_id": i, "text": boiler} for i in range(30)]
    rows += [{"doc_id": 2000 + i, "text": mini} for i in range(4)]
    for i in range(30, 70):
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 20))]
        rows.append({"doc_id": i, "text": " ".join(words)})
    return pd.DataFrame(rows)


def _simhash_guard_brute(
    fps: dict, cap, max_hamming: int = 3, bands: int = 4, width: int = 8
) -> dict:
    """Independent pure-Python replica of the banded join + one-side
    bucket guard: pair (a<b) emits iff hamming <= max_hamming AND some
    shared (band, band_val) bucket has size <= cap."""
    buckets: Counter = Counter()
    bandvals = {}
    mask = (1 << width) - 1
    for d, h in fps.items():
        vals = [(h >> (width * j)) & mask for j in range(bands)]
        bandvals[d] = vals
        for j, v in enumerate(vals):
            buckets[(j, v)] += 1
    pairs = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(fps[a] ^ fps[b]).count("1")
            if ham > max_hamming:
                continue
            if any(
                bandvals[a][j] == bandvals[b][j]
                and (cap is None or buckets[(j, bandvals[a][j])] <= cap)
                for j in range(bands)
            ):
                pairs[(a, b)] = ham
    return pairs


def test_t77_guard_agrees_with_brute_force_on_boilerplate_corpus(spark, tmp_path):
    """The r18 flip gate, fuzzed where the guard actually FIRES: on a
    corpus with a planted 30-copy boilerplate cluster and a 4-copy
    mini-cluster, the registered builder must equal an independent
    pure-Python replica of the banded-join + one-side-guard semantics at
    every cap — guard off (exact pigeonhole recall: all 435 + 6
    identical-pair edges emit), cap=1000 (never fires, equals off),
    cap=5 (30-bucket pruned in every band -> boilerplate pairs vanish;
    4-bucket passes -> mini-cluster's 6 pairs survive), and cap=3
    (mini-cluster pruned too). Non-vacuity is structural: the planted
    cluster sizes bracket the caps."""
    from mapreduce_google_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    pdf = _simhash_boilerplate_documents()
    _write_parquet(tmp_path, "documents", pdf)
    sf_dir = str(tmp_path)
    fps = {
        r["doc_id"]: int(r["simhash"]) & 0xFFFFFFFF
        for r in simhash_fingerprints(spark, sf_dir).collect()
    }
    assert len(fps) == len(pdf)
    boiler_pairs = {(a, b) for a in range(30) for b in range(30) if a < b}
    mini_pairs = {
        (2000 + a, 2000 + b) for a in range(4) for b in range(4) if a < b
    }
    by_cap = {}
    for cap in (None, 1000, 5, 3):
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_dup_pairs(spark, sf_dir, max_bucket=cap).collect()
        }
        expected = _simhash_guard_brute(fps, cap)
        assert got == expected, (cap, len(got), len(expected))
        by_cap[cap] = got
    assert boiler_pairs <= set(by_cap[None])
    assert mini_pairs <= set(by_cap[None])
    assert by_cap[1000] == by_cap[None]
    assert not (boiler_pairs & set(by_cap[5]))
    assert mini_pairs <= set(by_cap[5])
    assert not (mini_pairs & set(by_cap[3]))


# --- t179: banded thresholded DP + length pre-filter vs full DP -------------


def _py_lev(a: str, b: str) -> int:
    """Textbook full-table Levenshtein — the independent reference."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _round6_half_up(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _editdist_corpus(seed: int = 1901) -> pd.DataFrame:
    """Permutation clusters: docs over the SAME token multiset have the
    same simhash (the fingerprint is order-invariant), so every pair in
    a cluster is a guaranteed hamming-0 candidate while the character-
    level edit distance ranges from 0 (exact dup) through small
    (adjacent token swap) to large (full shuffle) — exactly the spread
    the verify stage must keep/drop correctly. A doubled-text member
    (base+base: same multiset ratios -> same signs -> same fingerprint)
    plants a candidate whose LENGTH GAP alone dooms it, exercising the
    pre-filter's no-false-prune contract."""
    rng = random.Random(seed)
    base = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima",
    ]
    rows = []
    rows.append({"doc_id": 0, "text": " ".join(base)})
    rows.append({"doc_id": 1, "text": " ".join(base)})  # exact dup: kept
    swap = base[:]
    swap[3], swap[4] = swap[4], swap[3]  # small edit: likely kept
    rows.append({"doc_id": 2, "text": " ".join(swap)})
    for i in range(3, 7):  # full shuffles: large lev, same multiset
        sh = base[:]
        rng.shuffle(sh)
        rows.append({"doc_id": i, "text": " ".join(sh)})
    doubled = " ".join(base) + " " + " ".join(base)
    rows.append({"doc_id": 7, "text": doubled})  # length-gap candidate
    vocab = ["mike", "november", "oscar", "papa", "quebec", "romeo"]
    for i in range(8, 24):  # background noise docs
        rows.append(
            {
                "doc_id": i,
                "text": " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(8, 20))
                ),
            }
        )
    return pd.DataFrame(rows)


def test_t179_registered_agrees_with_full_dp_reference(spark, tmp_path):
    """The r18 t179 repairs (length pre-filter + banded thresholded DP)
    claim results-identity with the original contract: full Levenshtein
    over every simhash candidate, sim = round(1 - lev/max_len, 6),
    filter sim >= threshold. Pin the registered builder against an
    independent pure-Python implementation of THAT contract (no length
    filter, no band) over the actual candidate set, on a corpus that
    plants guaranteed candidates across the keep/drop/length-gap
    spectrum."""
    from mapreduce_google_spark.operators.dedup import (
        edit_distance_pairs,
        simhash_near_dup_pairs,
    )

    pdf = _editdist_corpus()
    _write_parquet(tmp_path, "documents", pdf)
    sf_dir = str(tmp_path)
    texts = dict(zip(pdf["doc_id"], pdf["text"]))
    cands = [
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(spark, sf_dir).collect()
    ]
    cluster = {0, 1, 2, 3, 4, 5, 6, 7}
    got_cluster = {p for p in cands if set(p) <= cluster}
    assert {(0, 1), (0, 2), (0, 7)} <= got_cluster, got_cluster
    expected = []
    for a, b in cands:
        ta, tb = texts[a], texts[b]
        lev = _py_lev(ta, tb)
        m = max(len(ta), len(tb))
        sim = _round6_half_up(1.0 - lev / m)
        if sim >= 0.8:
            expected.append((a, b, lev, sim))
    got = [
        (r["doc_a"], r["doc_b"], r["edit_distance"], r["edit_sim"])
        for r in edit_distance_pairs(spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(expected)
    kept = {(a, b) for a, b, _, _ in got}
    assert (0, 1) in kept and (0, 2) in kept  # exact dup + token swap
    assert (0, 7) not in kept  # doubled text: length-gap prune is no-op
    dropped = set(cands) - kept
    assert dropped, "no dropped candidate — verify stage untested"


def test_t179_banded_threshold_expression_is_exact_at_the_boundary(spark):
    """The banded-DP margin math, probed AT the rounding boundary: for
    constructed pairs spanning lev/max_len across the 0.2 threshold
    (including lev = 0.2*len exactly, empty strings, and length-gap
    pairs), the per-row k = ceil((1-th+1e-6)*max_len) thresholded
    levenshtein must return the exact distance whenever the full DP is
    within k (in particular for EVERY row the final filter keeps) and
    -1 only for rows the filter drops anyway — keep/drop identical to
    the full DP at every row."""
    import math

    from pyspark.sql import functions as F

    threshold, rel = 0.8, 1.0 - 0.8 + 1e-6
    pairs = []
    for L in (10, 25, 50, 120):
        base = "".join(chr(ord("a") + (i * 7) % 26) for i in range(L))
        repl = "0123456789"
        step = max(1, L // (int(0.2 * L) + 3))
        for c in range(0, int(0.2 * L) + 3):
            chars = list(base)
            for n in range(c):
                pos = (n * step + n) % L
                chars[pos] = repl[n % 10]
            pairs.append((base, "".join(chars)))
    # ("", "") is unrepresentable: max_len 0 raises DIVIDE_BY_ZERO under
    # ANSI in BOTH forms (same division) — parity holds by construction
    pairs += [("abc", ""), ("abc", "abcdefghij")]
    df = spark.createDataFrame(pairs, "text_a string, text_b string")
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    full = F.levenshtein("text_a", "text_b")
    banded = F.expr(
        "levenshtein(text_a, text_b, cast(ceil({rel} * cast(greatest("
        "length(text_a), length(text_b)) as double)) as int))".format(rel=rel)
    )
    sim_of = lambda d: F.round(  # noqa: E731
        F.lit(1.0) - d.cast("double") / max_len.cast("double"), 6
    )
    rows = df.select(
        "text_a",
        "text_b",
        max_len.alias("m"),
        full.alias("lev"),
        banded.alias("d"),
        (sim_of(full) >= threshold).alias("keep_full"),
        ((banded >= 0) & (sim_of(banded) >= threshold)).alias("keep_banded"),
    ).collect()
    boundary_kept = 0
    for r in rows:
        k = math.ceil(rel * r["m"])
        if r["d"] >= 0:
            assert r["d"] == r["lev"], (r["text_a"], r["text_b"])
        else:
            assert r["lev"] > k, (r["lev"], k)
        assert bool(r["keep_full"]) == bool(r["keep_banded"]), (
            r["text_a"], r["text_b"], r["lev"], r["d"], k,
        )
        if r["m"] and r["keep_full"] and r["lev"] * 5 == r["m"]:
            boundary_kept += 1
    assert boundary_kept, "no pair landed exactly ON the 0.8 boundary"
    assert any(not r["keep_full"] and r["d"] == -1 for r in rows)
    assert any(not r["keep_full"] and r["d"] >= 0 for r in rows)


# --- t189: Arrow scaled-int64 covariance kernel vs exact decimal ------------


def _decimal_quantize12_scaled(x: float) -> int:
    """The contract: Spark's cast(double as decimal(20,12)) == HALF_UP
    on the double's shortest decimal repr, as a scaled integer."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(x))).quantize(Decimal("1e-12"), ROUND_HALF_UP).scaleb(12)
    )


def test_quantize12_scaled_matches_decimal_on_adversarial_values():
    """The vectorized exact-binary-rounding path must agree with the
    per-element Decimal reference EVERYWHERE — exact decimal ties
    (odd/8192: binary-exact products whose decimal expansion ends …5
    at the 13th place, where numpy's half-even rounding would be
    wrong), repr-divergence candidates (1.5e-12 and friends, where the
    double and its shortest repr straddle the rounding boundary),
    signs, zeros, subnormals, huge-within-domain values, and a seeded
    random float32-product sweep."""
    import numpy as np

    from mapreduce_google_spark.operators.similarity import _quantize12_scaled

    adversarial = [
        1.0 / 8192,          # exact tie: …312.5 -> HALF_UP 313
        -1.0 / 8192,         # away-from-zero: -> -313
        3.0 / 8192, -5.0 / 8192, 12345.0 / 8192,
        1.5e-12, -1.5e-12, 2.5e-13, 0.5e-12, 4.9999999999995e-1,
        0.0, -0.0, 5e-324, -5e-324, 1e-13, -1e-13,
        1.0, -1.0, 0.1, 0.2, 0.3, 9000.000000000123, -8999.9999999999995,
        0.0001220703125,     # 1/8192 written out
    ]
    rng = random.Random(777)
    f32 = [
        float(np.float32(rng.uniform(-0.5, 0.5))) for _ in range(2000)
    ]
    prods = [a * b for a, b in zip(f32[::2], f32[1::2])]
    xs = np.array(adversarial + f32 + prods, dtype=np.float64)
    got = _quantize12_scaled(xs)
    for x, g in zip(xs.tolist(), got.tolist()):
        assert g == _decimal_quantize12_scaled(x), (repr(x), g)
    # the tie really is a tie: numpy's half-even disagrees here
    assert got[0] == 122070313 and got[1] == -122070313
    assert int(round((1.0 / 8192) * 1e12)) == 122070312  # half-even
    # out-of-domain values fail loudly instead of wrapping silently
    import pytest

    with pytest.raises(ValueError, match="quantize12 domain"):
        _quantize12_scaled(np.array([1e7]))


def test_t189_kernel_agrees_with_sql_and_pure_decimal_reference(
    spark, tmp_path
):
    """On a planted float32 corpus whose products include exact
    decimal-tie values (1/64 · 1/128 = 1/8192), the registered arrow
    kernel must produce the SAME final rows as the verbatim SQL
    reference (top_principal_component_sql) and the SAME covariance
    cells as an independent pure-Python Decimal implementation of the
    SQL semantics — bit-for-bit."""
    import struct

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_google_spark.operators.similarity import (
        _cov_moments_arrow,
        top_principal_component,
        top_principal_component_sql,
    )

    rng = random.Random(1907)
    d = 4
    vecs = [
        [1.0 / 64, 1.0 / 128, -1.0 / 64, 0.25],   # products hit ±1/8192
        [1.0 / 128, -1.0 / 64, 1.0 / 64, -0.125],
        [0.0, 1.0 / 8192, -1.0 / 8192, 1.0],
    ]
    for _ in range(17):
        vecs.append([float(np.float32(rng.uniform(-0.5, 0.5))) for _ in range(d)])
    vecs = [[float(np.float32(v)) for v in vec] for vec in vecs]
    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [[np.float32(v) for v in vec] for vec in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 3 for i in range(len(vecs))], pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    sf_dir = str(tmp_path)
    # independent pure-Python reference of the SQL decimal semantics
    from decimal import Decimal

    n = len(vecs)
    sx = [sum(_decimal_quantize12_scaled(v[i]) for v in vecs) for i in range(d)]
    m = [float(Decimal(sx[i]).scaleb(-12)) / float(n) for i in range(d)]
    expected = {}
    for i in range(d):
        for j in range(d):
            s = sum(_decimal_quantize12_scaled(v[i] * v[j]) for v in vecs)
            expected[(i, j)] = float(Decimal(s).scaleb(-12)) / float(n) - m[i] * m[j]
    kn, ksx, ksxy, kbad = _cov_moments_arrow(spark, sf_dir)
    assert kbad == 0  # the quarantine pre-filter drops NOTHING in-domain
    assert kn == n and {i: v for i, v in ksx.items()} == dict(enumerate(sx))
    km = {i: float(Decimal(v).scaleb(-12)) / float(kn) for i, v in ksx.items()}
    got = {
        k: float(Decimal(v).scaleb(-12)) / float(kn) - km[k[0]] * km[k[1]]
        for k, v in ksxy.items()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert struct.pack("<d", got[k]) == struct.pack("<d", expected[k]), (
            k, repr(got[k]), repr(expected[k]),
        )
    # and the registered builder == the verbatim SQL reference, row-wise
    arrow_rows = sorted(
        tuple(r) for r in top_principal_component(spark, sf_dir).collect()
    )
    sql_rows = sorted(
        tuple(r)
        for r in top_principal_component_sql(spark, sf_dir).collect()
    )
    assert arrow_rows == sql_rows
    assert len(arrow_rows) == d


def test_cov_moments_quarantine_degrades_not_kills(spark, tmp_path):
    """VERDICT r18 item 7: one out-of-domain embedding must degrade the
    t189 kernel (counted quarantine + loud warning), not kill the job —
    while the default path stays bit-identical on clean corpora (the
    test above pins kbad == 0 there) and bad_rows='raise' keeps the r18
    fail-fast contract. The quarantined moments must equal the clean
    subset's moments exactly."""
    import warnings

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from mapreduce_google_spark.operators.similarity import (
        _cov_moments_arrow,
        top_principal_component,
    )

    d = 4
    clean = [
        [0.25, -0.5, 0.125, 1.0],
        [1.5, 0.75, -0.25, -1.0],
        [-0.125, 2.0, 0.5, 0.0625],
    ]
    poisoned = clean + [
        [1e5, 0.1, 0.2, 0.3],          # element AND products out of domain
        [100.0, 100.0, 0.0, 0.0],      # elements fine, product 1e4 >= 9007
        [float("nan"), 0.0, 0.0, 0.0], # non-finite
    ]

    def write(rows, path):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(len(rows)), pa.int64()),
                    "embedding": pa.array(
                        [[np.float32(v) for v in r] for r in rows],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array(
                        [i % 3 for i in range(len(rows))], pa.int32()
                    ),
                }
            ),
            path,
        )

    clean_dir = tmp_path / "clean"
    bad_dir = tmp_path / "bad"
    clean_dir.mkdir()
    bad_dir.mkdir()
    write(clean, str(clean_dir / "embeddings.parquet"))
    write(poisoned, str(bad_dir / "embeddings.parquet"))

    n_c, sx_c, sxy_c, bad_c = _cov_moments_arrow(spark, str(clean_dir))
    assert (n_c, bad_c) == (len(clean), 0)
    n_q, sx_q, sxy_q, bad_q = _cov_moments_arrow(spark, str(bad_dir))
    assert (n_q, bad_q) == (len(clean), 3)  # all three planted rows counted
    assert sx_q == sx_c and sxy_q == sxy_c  # moments == clean subset, exactly

    with pytest.raises(Exception, match="quantize12 domain|exceed"):
        _cov_moments_arrow(spark, str(bad_dir), bad_rows="raise")

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        rows = top_principal_component(spark, str(bad_dir)).collect()
    assert len(rows) == d
    assert any("QUARANTINED 3" in str(x.message) for x in w)

    # an entirely out-of-domain corpus must fail loudly, not divide by 0
    allbad_dir = tmp_path / "allbad"
    allbad_dir.mkdir()
    write([[1e5, 1e5, 1e5, 1e5]], str(allbad_dir / "embeddings.parquet"))
    with pytest.raises(ValueError, match="no in-domain"):
        _cov_moments_arrow(spark, str(allbad_dir))
