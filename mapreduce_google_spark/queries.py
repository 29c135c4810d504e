"""Declared query registry — the engine's correctness & bench contract.

One :class:`QuerySpec` per query in SURVEY.md §2d (T01–T20) plus the
LLM-pipeline extensions. Each spec pairs the Spark builder with the
equivalent ANSI-SQL oracle that DuckDB runs over the same parquet tables;
the driver (and ``tests/``) hash-compares the two at sf0.01 / sf0.001.

Determinism rules (FIXTURES.md §5) applied uniformly:
* every query ends in a total ORDER BY (unique tie-break column);
* aggregate/computed columns aliased identically on both sides;
* money/rate sums and means accumulate in EXACT decimal
  (``functions/numeric.py``: cast 2-decimal summands to decimal, sum
  exactly, one double conversion, round last) with the identical casts
  in the SQL oracle — double accumulation order varies with
  partitioning and would flip the 6-decimal hash;
* non-2-decimal doubles (computed norms, probabilities) are quantized
  to ``decimal(20,12)`` per row before the exact sum (t46, t67);
* timestamps emitted as formatted strings (UTC session tz) so both
  engines stringify identically.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mapreduce_google_spark.operators import relational as rel_ops
from mapreduce_google_spark.operators import text as text_ops

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    headline: bool = False  # included in perfbench ``query_mix``


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    REGISTRY[spec.name] = spec
    return spec


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


# --------------------------------------------------------------------------
# Text family (reference-native surface)
# --------------------------------------------------------------------------

register(
    QuerySpec(
        name="t01_word_count",
        builder=text_ops.word_count,
        oracle="""
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
            ORDER BY token
        """,
        doc="word count over documents.text (reference wc_map/wc_reduce)",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t02_grep",
        builder=text_ops.grep,
        oracle="""
            SELECT doc_id, text
            FROM documents
            WHERE length(text) > 0
              AND contains(lower(text), 'product')
            ORDER BY doc_id
        """,
        doc="case-insensitive substring grep (reference grep_map.py)",
        headline=True,
    )
)

# The synthetic corpus never contains 'product' (checked at sf0.001/0.01/0.1),
# so t02 as declared is a 0-row parity check. This variant greps a term that
# matches rows, giving the filter path non-vacuous evidence.
def _grep_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.grep(spark, sf_dir, query="customer")


register(
    QuerySpec(
        name="t02b_grep_hit",
        builder=_grep_hit,
        oracle="""
            SELECT doc_id, text
            FROM documents
            WHERE length(text) > 0
              AND contains(lower(text), 'customer')
            ORDER BY doc_id
        """,
        doc="grep variant over a term present in the corpus (non-vacuous)",
    )
)

register(
    QuerySpec(
        name="t03_identity",
        builder=text_ops.identity_scan,
        oracle="""
            SELECT doc_id, text, lang, source, n_chars
            FROM documents
            ORDER BY doc_id
        """,
        doc="identity scan (reference `cat` mapper)",
    )
)

register(
    QuerySpec(
        name="t04_md5_partition_histogram",
        builder=text_ops.md5_partition_histogram,
        oracle="""
            SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT CAST(('0x' || substr(md5(token), 31, 2)) AS INTEGER) % 8
                         AS bucket
                FROM (
                    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                    FROM documents
                )
                WHERE token <> ''
            )
            GROUP BY bucket
            ORDER BY bucket
        """,
        doc="reference md5 partition function histogram (worker/__main__.py:62-65)",
    )
)

register(
    QuerySpec(
        name="t05_distinct_tokens",
        builder=text_ops.distinct_tokens,
        oracle="""
            SELECT CAST(count(DISTINCT token) AS BIGINT) AS n_tokens
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            )
            WHERE token <> ''
        """,
        doc="exact distinct token count",
    )
)

register(
    QuerySpec(
        name="t06_top_k_tokens",
        builder=text_ops.top_k_tokens,
        oracle="""
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
            ORDER BY cnt DESC, token ASC
            LIMIT 20
        """,
        doc="top-20 tokens, tie-break token asc (TakeOrderedAndProject)",
    )
)

# --------------------------------------------------------------------------
# Relational core (gap-table families: joins/aggs/windows/set ops/scalars)
# --------------------------------------------------------------------------

register(
    QuerySpec(
        name="t07_filter_agg_revenue",
        builder=rel_ops.filter_agg_revenue,
        oracle="""
            -- decimal accumulation mirrors functions.numeric.dsum: exact
            -- sum, ONE double conversion, round last (order-independent)
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE),
                         6) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.02 AND 0.08
              AND l_quantity < 24
        """,
        doc="TPC-H Q6 shape: pushed-down filter + global agg",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t08_pricing_summary",
        builder=rel_ops.pricing_summary,
        oracle="""
            -- decimal accumulation (functions.numeric recipe): every sum/avg
            -- totals exact decimals, converts to double once, rounds last
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(qty) AS DOUBLE), 6) AS sum_qty,
                   round(CAST(sum(price) AS DOUBLE), 6) AS sum_base_price,
                   round(CAST(sum(price * net) AS DOUBLE), 6) AS sum_disc_price,
                   round(CAST(sum(price * net * gross) AS DOUBLE), 6)
                       AS sum_charge,
                   round(CAST(sum(qty) AS DOUBLE) / count(qty), 6) AS avg_qty,
                   round(CAST(sum(price) AS DOUBLE) / count(price), 6) AS avg_price,
                   round(CAST(sum(disc) AS DOUBLE) / count(disc), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM (
                SELECT l_returnflag, l_linestatus, l_shipdate,
                       CAST(l_quantity AS DECIMAL(12,2)) AS qty,
                       CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                       CAST(l_discount AS DECIMAL(3,2)) AS disc,
                       CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))
                           AS net,
                       CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))
                           AS gross
                FROM lineitem
            )
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        doc="TPC-H Q1 shape: grouped pricing summary",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t09_revenue_per_region",
        builder=rel_ops.revenue_per_region,
        oracle="""
            SELECT r_name,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                              AS DOUBLE), 6) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY r_name
        """,
        doc="4-way equi-join (broadcast dims) + agg",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t10_semi_anti_join",
        builder=rel_ops.customers_with_without_orders,
        oracle="""
            SELECT 'with_orders' AS kind, c_custkey
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT 'without_orders' AS kind, c_custkey
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY kind, c_custkey
        """,
        doc="left-semi / left-anti joins, labeled union",
    )
)

register(
    QuerySpec(
        name="t11_top_orders_per_customer",
        builder=rel_ops.top_orders_per_customer,
        oracle="""
            SELECT o_custkey, o_orderkey, o_totalprice, rn
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       CAST(row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS INTEGER) AS rn
                FROM orders
            )
            WHERE rn <= 3
            ORDER BY o_custkey, rn
        """,
        doc="window row_number top-3 per customer, total tie-break",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t12_revenue_rollup",
        builder=rel_ops.revenue_rollup,
        oracle="""
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
        """,
        doc="rollup subtotals over a 5-way join",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t13_segment_set_ops",
        builder=rel_ops.segment_set_ops,
        oracle="""
            WITH seg_a AS (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            ),
            seg_b AS (
                SELECT c_custkey FROM customer WHERE c_acctbal > 0
            )
            SELECT 'union' AS op, c_custkey FROM (
                SELECT c_custkey FROM seg_a UNION SELECT c_custkey FROM seg_b
            )
            UNION ALL
            SELECT 'intersect' AS op, c_custkey FROM (
                SELECT c_custkey FROM seg_a INTERSECT SELECT c_custkey FROM seg_b
            )
            UNION ALL
            SELECT 'except' AS op, c_custkey FROM (
                SELECT c_custkey FROM seg_a EXCEPT SELECT c_custkey FROM seg_b
            )
            ORDER BY op, c_custkey
        """,
        doc="union/intersect/except of two customer segments",
    )
)

register(
    QuerySpec(
        name="t14_scalar_functions",
        builder=rel_ops.scalar_functions,
        oracle="""
            SELECT l_orderkey, l_linenumber,
                   CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   CAST(month(l_shipdate) AS BIGINT) AS ship_month,
                   CAST(day(l_shipdate) AS BIGINT) AS ship_day,
                   substr(l_returnflag, 1, 1) AS flag1,
                   concat_ws('|', l_returnflag, l_linestatus) AS flag_status,
                   upper(l_linestatus) AS status_uc,
                   CAST(length(l_returnflag) AS BIGINT) AS flag_len,
                   round(l_extendedprice * (1 - l_discount), 6) AS net_price,
                   round(sqrt(abs(l_quantity)), 6) AS qty_sqrt,
                   CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
                   l_quantity % 5 AS qty_mod5
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber
        """,
        doc="string/date/math scalar expressions (codegen, no shuffle)",
    )
)

# --------------------------------------------------------------------------
# Event-time family (batch halves of the streaming surface)
# --------------------------------------------------------------------------

from mapreduce_google_spark.operators import events as event_ops  # noqa: E402

register(
    QuerySpec(
        name="t15_tumbling_window",
        builder=event_ops.tumbling_window_counts,
        oracle="""
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS bucket_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        doc="1-hour tumbling event-time windows (batch parity of streaming)",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t15b_sliding_window",
        builder=event_ops.sliding_window_counts,
        oracle="""
            SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM (
                SELECT unnest([
                           (epoch_us(ts) // 1800000000) * 1800000000,
                           (epoch_us(ts) // 1800000000) * 1800000000
                               - 1800000000
                       ]) AS ws,
                       event_type, value
                FROM events
            )
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        doc="1h/30min sliding windows; oracle re-derives Spark's window alignment",
    )
)

register(
    QuerySpec(
        name="t16_session_window",
        builder=event_ops.session_window_stats,
        oracle="""
            WITH flagged AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                    > 1800000000
                            THEN 1 ELSE 0 END AS is_start
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            ),
            numbered AS (
                SELECT user_id, ts_us,
                       sum(is_start) OVER (
                           PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS session_id
                FROM flagged
            ),
            per_session AS (
                SELECT user_id, session_id,
                       CAST(count(*) AS BIGINT) AS n_events,
                       max(ts_us) - min(ts_us) AS duration_us
                FROM numbered
                GROUP BY user_id, session_id
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   CAST(max(duration_us) AS BIGINT) AS max_session_us
            FROM per_session
            GROUP BY user_id
            ORDER BY user_id
        """,
        doc="30-min-gap sessionization (gaps-and-islands), per-user rollup",
        headline=True,
    )
)

# --------------------------------------------------------------------------
# LLM-pipeline family: dedup / similarity / text analysis
# --------------------------------------------------------------------------

from mapreduce_google_spark.operators import dedup as dedup_ops  # noqa: E402
from mapreduce_google_spark.operators import similarity as sim_ops  # noqa: E402
from mapreduce_google_spark.operators import textstats as ts_ops  # noqa: E402

_TOKENS_CTE = """
    toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS tokens
        FROM documents
    )
"""

register(
    QuerySpec(
        name="t17_exact_dedup",
        builder=dedup_ops.exact_dedup,
        oracle="""
            SELECT fingerprint,
                   CAST(min(doc_id) AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_dups
            FROM (
                SELECT md5(lower(trim(text))) AS fingerprint, doc_id
                FROM documents
            )
            GROUP BY fingerprint
            ORDER BY doc_id
        """,
        doc="exact dedup on md5(lower(trim(text))), keep lowest doc_id",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t21_ngram_jaccard_pairs",
        builder=dedup_ops.ngram_jaccard_pairs,
        oracle="""
            WITH """ + _TOKENS_CTE + """,
            shingles AS (
                SELECT DISTINCT doc_id, shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(tokens) - 1),
                               i -> array_to_string(tokens[i:i+2], ' ')))
                               AS shingle
                    FROM toks WHERE len(tokens) >= 3
                )
            ),
            sizes AS (
                SELECT doc_id, count(*) AS set_size
                FROM shingles GROUP BY doc_id
            ),
            common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM shingles a JOIN shingles b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(n_common /
                         (sa.set_size + sb.set_size - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_common /
                        (sa.set_size + sb.set_size - n_common), 6) >= 0.5
            ORDER BY doc_a, doc_b
        """,
        doc="exact word-3-gram Jaccard near-dup pairs (threshold 0.5)",
    )
)

register(
    QuerySpec(
        name="t22_minhash_lsh_pairs",
        # the PRODUCTION form: candidates from the persisted bucketed
        # band table (one signature pass per corpus version) instead of
        # recomputing signatures per run, the bucket-size guard a pushed
        # bucket_n filter stamped at build time (r17 t22 guard probe),
        # verify from the doc_id-bucketed shingle-HASH store (r14 — the
        # steady state never scans the raw corpus, plan-gated) —
        # result-identical to the in-session minhash_lsh_pairs (equality
        # pinned in
        # test_approx_ops.py::test_lsh_from_band_table_equals_direct),
        # and what a 100 TB deployment would actually execute
        # repeatedly (VERDICT r12 item 6)
        builder=dedup_ops.minhash_lsh_pairs_from_bands,
        oracle=None,  # hash-permutation family not SQL-portable; tests
        # assert precision 1.0 vs t21 and measure recall
        doc="MinHash(32) + LSH(8 bands) candidate pairs, exact-verify stage",
        headline=True,
    )
)

_SIMHASH_BITS = 32
_votes_sql = ",\n                       ".join(
    f"sum((((h32 >> {j}) & 1) * 2 - 1)) AS v{j}" for j in range(_SIMHASH_BITS)
)
_bits_sql = " + ".join(
    f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SIMHASH_BITS)
)
register(
    QuerySpec(
        name="t23_simhash",
        builder=dedup_ops.simhash_fingerprints,
        oracle=f"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(token), 1, 8))::BIGINT AS h32
                FROM tok WHERE token <> ''
            ),
            votes AS (
                SELECT doc_id,
                       {_votes_sql}
                FROM h GROUP BY doc_id
            )
            SELECT doc_id, CAST({_bits_sql} AS BIGINT) AS simhash
            FROM votes
            ORDER BY doc_id
        """,
        doc="32-bit SimHash from md5-derived token bit votes",
    )
)

_COS = (
    "round(list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * "
    "sqrt(list_inner_product({b}, {b}))), 6)"
)

register(
    QuerySpec(
        name="t18_cosine_topk",
        # GEMM form: one Arrow-batched matmul per partition instead of
        # a per-(probe,vector) HOF expression — result-identical to
        # sim_ops.cosine_topk (both round the cosine to 6 BEFORE
        # ranking; equality pinned across sf tiers in
        # tests/test_approx_ops.py::test_cosine_topk_gemm_equals_hof),
        # 0.88→0.58 s at sf0.1 (r13)
        builder=sim_ops.cosine_topk_gemm,
        oracle=f"""
            WITH probes AS (
                SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pvec
                FROM embeddings ORDER BY vec_id LIMIT 10
            ),
            scored AS (
                SELECT probe_id, e.vec_id,
                       {_COS.format(a="pvec", b="e.embedding::DOUBLE[]")} AS cosine
                FROM probes, embeddings e
                WHERE e.vec_id <> probe_id
            ),
            ranked AS (
                SELECT probe_id, vec_id, cosine,
                       CAST(row_number() OVER (
                           PARTITION BY probe_id
                           ORDER BY cosine DESC, vec_id ASC
                       ) AS INTEGER) AS rank
                FROM scored
            )
            SELECT probe_id, vec_id, cosine, rank
            FROM ranked WHERE rank <= 5
            ORDER BY probe_id, rank
        """,
        doc="brute-force cosine top-5 for 10 lowest-vec_id probes",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t24_embedding_near_dup",
        # (n_bits, n_tables) derived from the parquet-footer corpus size
        # so the expected LSH bucket stays ~64 vectors at every N; at
        # oracle scale (N=500) they resolve to (3, 64), and the result
        # equals the brute-force oracle below
        builder=sim_ops.embedding_near_dup_pairs,
        oracle=f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_COS.format(a="a.embedding::DOUBLE[]",
                                b="b.embedding::DOUBLE[]")} AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_COS.format(a="a.embedding::DOUBLE[]",
                               b="b.embedding::DOUBLE[]")} >= 0.4
            ORDER BY id_a, id_b
        """,
        doc="embedding-cosine near-dup pairs (threshold 0.4) via hyperplane-LSH candidates + exact verify; oracle is the brute all-pairs definition",
    )
)

register(
    QuerySpec(
        name="t25_ivf_topk",
        # production form: assignment pass served from the materialized
        # cell-bucketed ivf_index_table (one pass per corpus version,
        # the band-table pattern), candidates scored AND folded in one
        # fused Arrow kernel (r15 fused-IVF shootout: -5.5%
        # at sf0.1, -13.6% at sf1 vs the JVM-HOF + separate-fold form)
        # — result-identical to the in-session ivf_topk (equality
        # pinned in tests/test_approx_ops.py at the defaults and at the
        # degenerate parameter sets)
        builder=sim_ops.ivf_topk_from_index_fused,
        oracle=None,  # approximate by construction; tests measure recall
        # against t18's exact result
        doc="IVF-bucketed approximate cosine top-k (scale path for T18)",
        headline=True,  # benched NEXT TO the exact t18 so the "scale
        # path" claim is a measured number
    )
)

register(
    QuerySpec(
        name="t19_text_stats",
        builder=ts_ops.text_stats,
        oracle="""
            WITH stats AS (
                SELECT lang, n_chars,
                       len(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '')) AS n_tokens
                FROM documents
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(avg(n_chars), 6) AS mean_chars,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM stats
            GROUP BY lang
            ORDER BY lang
        """,
        doc="per-lang doc count, mean chars, token count",
        headline=True,
    )
)

_MARKER_SQL = {
    "de": "['der','die','das','und']",
    "en": "['the','a','of','and']",
    "es": "['el','la','de','y']",
    "fr": "['le','la','et','les']",
    "zh": "['的','是','了','在']",
}
_score_cols = ",\n                       ".join(
    f"len(list_filter(tokens, t -> list_contains({lst}, t))) AS score_{lang}"
    for lang, lst in _MARKER_SQL.items()
)
_g = "greatest(" + ", ".join(f"score_{l}" for l in _MARKER_SQL) + ")"
_pred_cases = "\n                        ".join(
    f"WHEN score_{lang} = {_g} THEN '{lang}'" for lang in sorted(_MARKER_SQL)
)
register(
    QuerySpec(
        name="t26_language_id",
        builder=ts_ops.language_id,
        oracle=f"""
            WITH {_TOKENS_CTE},
            scores AS (
                SELECT doc_id, lang,
                       {_score_cols}
                FROM toks
            )
            SELECT doc_id, lang AS labeled_lang,
                   CASE WHEN {_g} = 0 THEN 'und'
                        {_pred_cases}
                        ELSE 'und' END AS predicted_lang
            FROM scores
            ORDER BY doc_id
        """,
        doc="marker-word language-ID heuristic, argmax with asc tie-break",
    )
)

register(
    QuerySpec(
        name="t27_quality_score",
        builder=ts_ops.quality_score,
        oracle="""
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CAST(length(text) -
                            length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                            AS BIGINT) AS n_punct
                FROM documents
            ),
            derived AS (
                SELECT doc_id,
                       CAST(len(tokens) AS BIGINT) AS n_tokens,
                       CASE WHEN n_chars > 0
                            THEN n_punct / CAST(n_chars AS DOUBLE)
                            ELSE 0.0 END AS punct_ratio,
                       CASE WHEN len(tokens) > 0
                            THEN len(list_filter(tokens, t -> list_contains(
                                     ['the','a','of','and','der','el','la'], t)))
                                 / CAST(len(tokens) AS DOUBLE)
                            ELSE 0.0 END AS stop_ratio,
                       CASE WHEN len(tokens) > 0
                            THEN list_aggregate(
                                     list_transform(tokens, t -> length(t)),
                                     'sum') / CAST(len(tokens) AS DOUBLE)
                            ELSE 0.0 END AS mean_token_len
                FROM base
            )
            SELECT doc_id, n_tokens,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(stop_ratio, 6) AS stop_ratio,
                   round(mean_token_len, 6) AS mean_token_len,
                   round(CAST((CASE WHEN n_tokens BETWEEN 5 AND 100000
                               THEN 0.4 ELSE 0.0 END)
                         + (CASE WHEN punct_ratio < 0.2 THEN 0.3 ELSE 0.0 END)
                         + (CASE WHEN stop_ratio > 0.01 THEN 0.3 ELSE 0.0 END)
                         AS DOUBLE), 6) AS quality
            FROM derived
            ORDER BY doc_id
        """,
        doc="C4/Gopher-style quality signals + blended score",
    )
)

register(
    QuerySpec(
        name="t28_token_counts",
        builder=ts_ops.token_counts,
        oracle="""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                        t -> t <> '')) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                       AS bpe_tokens
            FROM documents
            ORDER BY doc_id
        """,
        doc="whitespace + BPE-ish pre-token counts per doc",
    )
)

register(
    QuerySpec(
        name="t29_fingerprints",
        builder=ts_ops.fingerprints,
        oracle="""
            SELECT doc_id,
                   CAST(list_reduce(
                       list_prepend(0::HUGEINT,
                           list_transform(string_split(lower(trim(text)), ''),
                                          c -> CAST(ascii(c) AS HUGEINT))),
                       (x, y) -> (x * 257 + y) % 2305843009213693951
                   ) AS BIGINT) AS fingerprint
            FROM documents
            ORDER BY doc_id
        """,
        doc="polynomial rolling-hash fingerprint (base 257, mod 2^61-1)",
    )
)

# --------------------------------------------------------------------------
# Streaming-exec compatibility surface (reference F3/F8, literal)
# --------------------------------------------------------------------------

from mapreduce_google_spark.operators import pipe as pipe_ops  # noqa: E402

register(
    QuerySpec(
        name="t20_pipe_word_count",
        builder=pipe_ops.pipe_word_count,
        # same declared semantics as T01, so the same oracle — the point is
        # that the exec surface reproduces the declarative result exactly
        oracle="""
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
            ORDER BY token
        """,
        doc="T01 via external mapper/reducer execs piped in the JVM + md5 placement",
    )
)

# --------------------------------------------------------------------------
# Multimodal surface (binary columns + typed metadata)
# --------------------------------------------------------------------------

from mapreduce_google_spark.operators import multimodal as mm_ops  # noqa: E402

register(
    QuerySpec(
        name="t30_multimodal_metadata",
        builder=mm_ops.multimodal_metadata,
        oracle="""
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents
            ORDER BY doc_id
        """,
        doc="binary-column metadata (blob size + sha256) per document",
    )
)

# --------------------------------------------------------------------------
# Extended relational coverage: cube, range join, as-of join, running windows
# --------------------------------------------------------------------------

register(
    QuerySpec(
        name="t31_revenue_cube",
        builder=rel_ops.revenue_cube,
        oracle="""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 6) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        doc="CUBE grouping sets over lineitem flags",
    )
)

register(
    QuerySpec(
        name="t32_price_band_join",
        builder=rel_ops.price_band_join,
        oracle="""
            WITH bands(band, lo, hi) AS (
                VALUES ('low', 0.0, 50000.0),
                       ('mid', 50000.0, 150000.0),
                       ('high', 150000.0, 300000.0),
                       ('ultra', 300000.0, 1e18)
            )
            SELECT band,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue
            FROM orders JOIN bands
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY band
            ORDER BY band
        """,
        doc="non-equi range join against broadcast price bands",
    )
)

register(
    QuerySpec(
        name="t33_asof_latest_order",
        builder=rel_ops.asof_latest_order,
        oracle="""
            SELECT event_id, user_id, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
            FROM (
                SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                       row_number() OVER (
                           PARTITION BY e.event_id
                           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                       ) AS rn
                FROM events e
                JOIN orders o
                  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
            )
            WHERE rn = 1
            ORDER BY event_id
        """,
        doc="as-of join: latest order per event at event time",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t34_running_order_analytics",
        builder=rel_ops.running_order_analytics,
        oracle="""
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING), 6) AS running_revenue,
                   round(lag(o_totalprice) OVER w, 6) AS prev_price,
                   round(lead(o_totalprice) OVER w, 6) AS next_price,
                   CAST(row_number() OVER w AS INTEGER) AS order_idx
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ORDER BY o_custkey, order_idx
        """,
        doc="running sum + lag/lead per customer (shared window frame)",
    )
)

register(
    QuerySpec(
        name="t35_segment_percentiles",
        builder=rel_ops.segment_percentiles,
        oracle="""
            SELECT c_mktsegment,
                   round(quantile_cont(c_acctbal, 0.5), 6) AS median_acctbal,
                   round(quantile_cont(c_acctbal, 0.9), 6) AS p90_acctbal,
                   CAST(count(*) AS BIGINT) AS n_customers
            FROM customer
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        doc="exact interpolated median/p90 account balance per segment",
    )
)

register(
    QuerySpec(
        name="t36_pricing_pivot",
        builder=rel_ops.pricing_pivot,
        oracle="""
            SELECT l_returnflag,
                   CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_f,
                   CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_o
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        doc="pivot: lineitem counts, returnflag rows x linestatus columns",
    )
)

register(
    QuerySpec(
        name="t38_top_orders_global",
        builder=rel_ops.top_orders_global,
        oracle="""
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        doc="global top-100 orders by price (TakeOrderedAndProject, no full sort)",
    )
)

register(
    QuerySpec(
        name="t39_approx_distinct_tokens",
        builder=text_ops.approx_distinct_tokens,
        oracle=None,  # HLL++ sketch not SQL-portable; tests assert the
        # estimate is within 2% of the exact T05 count
        doc="HyperLogLog++ approximate distinct-token count (rsd=0.01)",
    )
)


# --------------------------------------------------------------------------
# Scale-pattern family (operators/scale.py): physical-layout & skew tools
# --------------------------------------------------------------------------
from mapreduce_google_spark.operators import scale as scale_ops  # noqa: E402

register(
    QuerySpec(
        name="t40_bucketed_segment_revenue",
        builder=scale_ops.bucketed_revenue_per_segment,
        oracle="""
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                       AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        doc="co-located orders⋈customer via write-time bucketing (no join exchange)",
    )
)

register(
    QuerySpec(
        name="t41_salted_brand_revenue",
        builder=scale_ops.salted_brand_revenue,
        oracle="""
            SELECT p_brand,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
            ORDER BY p_brand
        """,
        doc="skew-salted shuffle join lineitem⋈part (manual salt, shuffle_hash)",
    )
)

register(
    QuerySpec(
        name="t42_partition_pruned_daily",
        builder=scale_ops.partition_pruned_daily_counts,
        oracle=f"""
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM events
            WHERE CAST(ts AS DATE) = DATE '{scale_ops.PRUNE_DAY}'
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="hive-partitioned sink + partition-pruned one-day scan",
    )
)

register(
    QuerySpec(
        name="t43_revenue_grouping_sets",
        builder=scale_ops.revenue_grouping_sets,
        oracle="""
            SELECT coalesce(r_name, 'ALL') AS region,
                   coalesce(n_name, 'ALL') AS nation,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                       AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
            ORDER BY region, nation
        """,
        doc="three aggregation levels in one Expand pass (GROUPING SETS)",
    )
)

register(
    QuerySpec(
        name="t44_above_segment_avg",
        builder=scale_ops.above_segment_average_customers,
        oracle="""
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_above_avg
            FROM customer c
            WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal
                                                    AS DECIMAL(12,2)))
                                           AS DOUBLE) / count(*)
                               FROM customer c2
                               WHERE c2.c_mktsegment = c.c_mktsegment)
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        doc="correlated scalar subquery, decorrelated by Catalyst",
    )
)

register(
    QuerySpec(
        name="t45_event_pairs_within_minute",
        builder=scale_ops.event_pairs_within_minute,
        oracle="""
            SELECT a.event_type AS type_a,
                   b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM events a
            JOIN events b
              ON a.user_id = b.user_id
             AND b.ts > a.ts
             AND b.ts <= a.ts + INTERVAL 60 SECOND
            GROUP BY type_a, type_b
            ORDER BY type_a, type_b
        """,
        doc="bucketed range self-join: same-user event pairs within 60s",
        headline=True,
    )
)

register(
    QuerySpec(
        name="t46_embedding_norm_stats",
        builder=sim_ops.embedding_norm_stats,
        oracle="""
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n_vectors,
                   round(CAST(sum(CAST(nrm AS DECIMAL(20,12))) AS DOUBLE)
                         / count(nrm), 6) AS avg_norm,
                   round(min(nrm), 6) AS min_norm,
                   round(max(nrm), 6) AS max_norm
            FROM (
                SELECT label,
                       sqrt(list_sum(list_transform(
                           embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                       ))) AS nrm
                FROM embeddings
            )
            GROUP BY label
            ORDER BY label
        """,
        doc="per-label L2 norm stats — embedding QA pass (HOF fold, no Python)",
    )
)

register(
    QuerySpec(
        name="t47_hyperplane_lsh_topk",
        builder=sim_ops.hyperplane_lsh_topk,
        oracle=None,  # plane family not SQL-portable; recall/exactness
        # gates live in tests/test_approx_ops.py
        doc="random-hyperplane LSH ANN (8 tables x 6 bits, OR-amplified)",
    )
)

register(
    QuerySpec(
        name="t48_dedup_clusters",
        builder=dedup_ops.dedup_clusters,
        oracle=None,  # iterative CC over LSH pairs; validity gates in
        # tests/test_approx_ops.py
        doc="connected-component cluster labels over the near-dup graph",
    )
)

from mapreduce_google_spark.streaming import jobs as stream_jobs  # noqa: E402

register(
    QuerySpec(
        name="t49_stream_dedup_counts",
        builder=stream_jobs.stream_dedup_counts,
        oracle="""
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="streaming dropDuplicatesWithinWatermark over a doubled (redelivered) source — counts equal the original table",
    )
)

# --------------------------------------------------------------------------
# Training-pipeline sampling & CDC-style compaction (T51–T52)
# --------------------------------------------------------------------------

from mapreduce_google_spark.operators import sampling as sample_ops  # noqa: E402

register(
    QuerySpec(
        name="t51_hash_split_stats",
        builder=sample_ops.split_stats,
        oracle=sample_ops.SPLIT_STATS_ORACLE,
        doc="deterministic 80/10/10 train/val/test split by md5-tail of doc_id, with membership checksum",
    )
)

register(
    QuerySpec(
        name="t52_latest_order_per_customer",
        builder=rel_ops.latest_order_per_customer,
        oracle="""
            SELECT o_custkey,
                   o_orderkey AS latest_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS latest_order_ts,
                   round(o_totalprice, 2) AS latest_price
            FROM (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC
                       ) AS rn
                FROM orders
            )
            WHERE rn = 1
            ORDER BY o_custkey
        """,
        doc="keep-latest-per-key compaction via single-pass max(struct) agg (window-free CDC dedup)",
    )
)

register(
    QuerySpec(
        name="t53_local_supplier_revenue",
        builder=rel_ops.local_supplier_revenue,
        oracle="""
            SELECT n_name,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(3,2))))
                              AS DOUBLE), 6) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_lineitems
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY n_name
        """,
        doc="TPC-H Q5 shape: 6-way join with same-nation cycle, local-supplier revenue per ASIA nation",
    )
)

register(
    QuerySpec(
        name="t54_udtf_token_positions",
        builder=pipe_ops.udtf_token_positions,
        oracle="""
            SELECT token,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(pos), 6) AS avg_pos
            FROM (
                SELECT unnest(toks) AS token,
                       unnest(range(len(toks))) AS pos
                FROM (
                    SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '') AS toks
                    FROM documents
                )
            )
            GROUP BY token
            ORDER BY token
        """,
        doc="token frequency + mean position via Python UDTF with LATERAL join (modern F3 mapper surface)",
    )
)

register(
    QuerySpec(
        name="t55_stream_event_pairs",
        builder=stream_jobs.stream_event_pairs,
        oracle="""
            SELECT a.event_type AS type_a,
                   b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM events a
            JOIN events b
              ON a.user_id = b.user_id
             AND b.ts > a.ts
             AND b.ts <= a.ts + INTERVAL 60 SECOND
            GROUP BY type_a, type_b
            ORDER BY type_a, type_b
        """,
        doc="watermarked stream-stream self-join (bounded state), batch-parity with T45",
    )
)

register(
    QuerySpec(
        name="t56_foreachbatch_ingest",
        builder=stream_jobs.foreachbatch_ingest_counts,
        oracle="""
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="exactly-once streaming file ingest: foreachBatch overwrite-per-batch sink survives a simulated batch replay",
    )
)

register(
    QuerySpec(
        name="t57_stratified_sample",
        builder=sample_ops.stratified_sample_stats,
        oracle=sample_ops.STRATIFIED_SAMPLE_ORACLE,
        doc="deterministic per-language downsampling (training-mix rebalance), layout-independent membership",
    )
)

register(
    QuerySpec(
        name="t58_price_histogram",
        builder=rel_ops.price_histogram,
        oracle="""
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi
            FROM (
                SELECT o_totalprice,
                       CAST(least(floor(o_totalprice / 25000.0), 19) AS BIGINT)
                           AS bucket
                FROM orders
            )
            GROUP BY bucket
            ORDER BY bucket
        """,
        doc="fixed-width price histogram: O(buckets) shuffle profile of a fact table",
    )
)

register(
    QuerySpec(
        name="t59_customer_order_reconciliation",
        builder=rel_ops.customer_order_reconciliation,
        oracle="""
            SELECT CAST(coalesce(c_custkey, o_custkey) AS BIGINT) AS custkey,
                   CASE WHEN o_custkey IS NULL THEN 'never_ordered'
                        WHEN c_custkey IS NULL THEN 'orphan_orders'
                        ELSE 'matched' END AS status,
                   CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
                   coalesce(total_spend, 0.0) AS total_spend
            FROM customer
            FULL OUTER JOIN (
                SELECT o_custkey,
                       count(*) AS n_orders,
                       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                                  AS DOUBLE), 2) AS total_spend
                FROM orders
                GROUP BY o_custkey
            )
            ON c_custkey = o_custkey
            ORDER BY custkey
        """,
        doc="full-outer data-quality reconciliation: customers vs order activity, pre-aggregated to key grain",
    )
)

register(
    QuerySpec(
        name="t60_segment_nation_grid",
        builder=rel_ops.segment_nation_coverage_grid,
        oracle="""
            SELECT n_name, mktsegment,
                   CAST(coalesce(n_customers, 0) AS BIGINT) AS n_customers,
                   avg_acctbal
            FROM (
                SELECT n.n_nationkey, n.n_name, s.c_mktsegment AS mktsegment
                FROM nation n
                CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) s
            ) grid
            LEFT JOIN (
                SELECT c_nationkey, c_mktsegment,
                       count(*) AS n_customers,
                       round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)))
                                  AS DOUBLE) / count(c_acctbal), 6)
                           AS avg_acctbal
                FROM customer
                GROUP BY c_nationkey, c_mktsegment
            ) obs
              ON grid.n_nationkey = obs.c_nationkey
             AND grid.mktsegment = obs.c_mktsegment
            ORDER BY n_name, mktsegment
        """,
        doc="zero-filled (nation x mktsegment) coverage grid: broadcast dim cross product left-joined to pre-aggregated facts",
    )
)

register(
    QuerySpec(
        name="t61_customer_spend_ranks",
        builder=rel_ops.customer_spend_ranks,
        oracle="""
            SELECT c_mktsegment,
                   CAST(c_custkey AS BIGINT) AS custkey,
                   spend,
                   CAST(rnk AS BIGINT) AS rnk,
                   CAST(dense_rnk AS BIGINT) AS dense_rnk,
                   round(pct_rnk, 6) AS pct_rnk,
                   CAST(quartile AS BIGINT) AS quartile
            FROM (
                SELECT c_mktsegment, c_custkey, spend,
                       rank() OVER w AS rnk,
                       dense_rank() OVER w AS dense_rnk,
                       percent_rank() OVER w AS pct_rnk,
                       ntile(4) OVER w AS quartile
                FROM (
                    SELECT c.c_custkey, c.c_mktsegment,
                           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2)))
                                      AS DOUBLE), 2) AS spend
                    FROM customer c
                    JOIN orders o ON c.c_custkey = o.o_custkey
                    GROUP BY c.c_custkey, c.c_mktsegment
                )
                WINDOW w AS (PARTITION BY c_mktsegment
                             ORDER BY spend DESC, c_custkey ASC)
            )
            WHERE rnk <= 20
            ORDER BY c_mktsegment, rnk, custkey
        """,
        doc="ranking window family (rank/dense_rank/percent_rank/ntile) over per-segment spend, one shared frame",
    )
)

register(
    QuerySpec(
        name="t62_unshipped_orders_topk",
        builder=rel_ops.unshipped_orders_topk,
        oracle="""
            SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
                   o_orderpriority AS priority,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(3,2))))
                              AS DOUBLE), 6) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, orderkey ASC
            LIMIT 10
        """,
        doc="TPC-H Q3 shape: segment-filtered 3-way join, revenue agg, TakeOrderedAndProject top-10",
    )
)

register(
    QuerySpec(
        name="t63_chunk_documents",
        builder=text_ops.chunk_documents,
        oracle="""
            SELECT doc_id,
                   CAST(s / 40 AS BIGINT) AS chunk_id,
                   CAST(len(toks[s+1:s+50]) AS BIGINT) AS n_tokens,
                   array_to_string(toks[s+1:s+50], ' ') AS chunk_text
            FROM (
                SELECT doc_id, toks,
                       unnest(range(0,
                                    greatest(len(toks) - 1
                                             - ((len(toks) - 1) % 40), 0) + 1,
                                    40)) AS s
                FROM (
                    SELECT doc_id,
                           list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '') AS toks
                    FROM documents
                )
            )
            ORDER BY doc_id, chunk_id
        """,
        doc="sliding 50-token windows every 40 tokens (RAG/pretrain chunking), narrow HOF slicing, no Python",
    )
)

register(
    QuerySpec(
        name="t64_pack_documents",
        builder=text_ops.pack_documents,
        oracle=None,  # pack membership depends on shard-local greedy order —
        # invariants (coverage, budget, determinism) are pinned in
        # tests/test_approx_ops.py::test_packing_invariants
        doc="greedy sequence packing into 256-token budgets, hash-sharded first-fit (training batch prep)",
    )
)

register(
    QuerySpec(
        name="t65_incremental_dedup",
        builder=dedup_ops.incremental_dedup,
        oracle="""
            WITH fp AS (
                SELECT doc_id, md5(lower(trim(text))) AS fingerprint
                FROM documents
            ),
            batch AS (
                SELECT fingerprint,
                       CAST(min(doc_id) AS BIGINT) AS doc_id,
                       CAST(count(*) AS BIGINT) AS n_dups_in_batch
                FROM fp
                WHERE doc_id >= 250
                GROUP BY fingerprint
            )
            SELECT doc_id, fingerprint, n_dups_in_batch
            FROM batch
            WHERE fingerprint NOT IN (
                SELECT fingerprint FROM fp WHERE doc_id < 250
            )
            ORDER BY doc_id
        """,
        doc="incremental ingest dedup: new-batch docs surviving within-batch + against-history fingerprint checks (anti-join on hashes, never text)",
    )
)

register(
    QuerySpec(
        name="t66_jsonl_ingest",
        builder=scale_ops.jsonl_ingest_token_counts,
        oracle="""
            SELECT CAST(doc_id % 10 AS BIGINT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(min(n) AS BIGINT) AS min_tokens,
                   CAST(max(n) AS BIGINT) AS max_tokens
            FROM (
                SELECT doc_id,
                       len(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '')) AS n
                FROM documents
            )
            GROUP BY 1
            ORDER BY 1
        """,
        doc="JSONL round-trip ingest (write_sink/read_source with explicit schema) + per-shard token profile; lossy round-trips fail the hash",
    )
)

register(
    QuerySpec(
        name="t67_bigram_lm_score",
        builder=ts_ops.bigram_lm_score,
        oracle="""
            WITH bg AS (
                SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
                FROM (
                    SELECT doc_id,
                           list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '') AS toks
                    FROM documents
                ), (SELECT unnest(range(1, 100000)) AS i)
                WHERE i < len(toks)
            ),
            c12 AS (
                SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
            ),
            c1 AS (
                SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
            ),
            v AS (
                SELECT count(DISTINCT t) AS v
                FROM (
                    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t
                    FROM documents
                )
                WHERE t <> ''
            )
            SELECT doc_id,
                   round(CAST(sum(CAST(CAST(c12 + 1 AS DOUBLE)
                                       / CAST(c1 + v AS DOUBLE)
                                       AS DECIMAL(20,12))) AS DOUBLE)
                         / count(*), 6) AS lm_score,
                   CAST(count(*) AS BIGINT) AS n_bigrams
            FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
            GROUP BY doc_id
            ORDER BY doc_id
        """,
        doc="corpus-trained add-one bigram LM: mean P(w2|w1) per doc — the statistical quality filter for pretraining corpora",
    )
)

register(
    QuerySpec(
        name="t68_trailing_active_users",
        builder=event_ops.trailing_week_active_users,
        oracle="""
            SELECT strftime(day + CAST(i AS INTEGER), '%Y-%m-%d') AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_7d
            FROM (
                SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
            ), (SELECT unnest(range(7)) AS i)
            GROUP BY 1
            ORDER BY 1
        """,
        doc="trailing-7-day distinct active users per day: day-user grain collapse + 7-row window fan-out (sliding distinct, window-function-inexpressible)",
    )
)

register(
    QuerySpec(
        name="t69_repetition_stats",
        builder=ts_ops.repetition_stats,
        oracle="""
            WITH tg AS (
                SELECT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tri
                FROM (
                    SELECT doc_id,
                           list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '') AS toks
                    FROM documents
                ), (SELECT unnest(range(1, 100000)) AS i)
                WHERE i <= len(toks) - 2
            ),
            per AS (
                SELECT doc_id, tri, count(*) AS c FROM tg GROUP BY doc_id, tri
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_trigrams,
                   round(1.0 - count(*) / CAST(sum(c) AS DOUBLE), 6) AS dup_frac,
                   round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_share
            FROM per
            GROUP BY doc_id
            ORDER BY doc_id
        """,
        doc="per-doc repetition signals (duplicate-trigram fraction, top-trigram share) — Gopher-style spam/boilerplate gate",
    )
)

register(
    QuerySpec(
        name="t75_event_funnel",
        builder=event_ops.event_funnel,
        oracle="""
            WITH per AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'view'
                                THEN epoch_us(ts) END) AS t_view,
                       list(epoch_us(ts))
                           FILTER (WHERE event_type = 'click') AS clicks,
                       list(epoch_us(ts))
                           FILTER (WHERE event_type = 'purchase') AS purchases
                FROM events
                GROUP BY user_id
            ),
            staged AS (
                SELECT user_id, t_view,
                       list_min(list_filter(clicks, c -> c > t_view)) AS t_click,
                       purchases
                FROM per
            ),
            final AS (
                SELECT user_id, t_view, t_click,
                       list_min(list_filter(purchases, p -> p > t_click))
                           AS t_purchase
                FROM staged
            )
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(count(t_view) AS BIGINT) AS n_viewed,
                   CAST(count(t_click) AS BIGINT) AS n_clicked,
                   CAST(count(t_purchase) AS BIGINT) AS n_purchased,
                   round(count(t_click) / CAST(count(t_view) AS DOUBLE), 6)
                       AS click_rate,
                   round(count(t_purchase) / CAST(count(t_click) AS DOUBLE), 6)
                       AS purchase_rate
            FROM final
        """,
        doc="ordered conversion funnel view->click->purchase (each stage strictly after the previous), user-grain array logic, no window sort",
    )
)

register(
    QuerySpec(
        name="t74_monthly_revenue_trend",
        builder=rel_ops.monthly_revenue_trend,
        oracle="""
            WITH monthly AS (
                SELECT c_mktsegment,
                       (CAST(year(o_orderdate) AS INTEGER) - 1992) * 12
                           + CAST(month(o_orderdate) AS INTEGER) - 1 AS x,
                       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                            AS DECIMAL(18,2)) AS y
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2
            ),
            stats AS (
                SELECT c_mktsegment,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
                       sum(y) AS sy,
                       sum(CAST(x AS DECIMAL(4,0)) * y) AS sxy
                FROM monthly
                GROUP BY c_mktsegment
            )
            SELECT c_mktsegment,
                   n AS n_months,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                         6) AS slope,
                   round(CAST(sy AS DOUBLE) / n, 6) AS avg_monthly_revenue
            FROM stats
            ORDER BY c_mktsegment
        """,
        doc="per-segment OLS revenue trend from closed-form sufficient statistics (no per-group buffering), exact-decimal inputs to one IEEE division",
    )
)

register(
    QuerySpec(
        name="t73_embedding_quantization",
        builder=sim_ops.embedding_quantization_stats,
        oracle="""
            WITH per_vec AS (
                SELECT label,
                       list_max(list_transform(
                           embedding, e -> abs(CAST(e AS DOUBLE)))) / 127.0
                           AS scale,
                       list_sum(list_transform(
                           embedding,
                           e -> abs(CAST(e AS DOUBLE)
                                    - round(CAST(e AS DOUBLE)
                                            / (list_max(list_transform(
                                                embedding,
                                                x -> abs(CAST(x AS DOUBLE))))
                                               / 127.0))
                                      * (list_max(list_transform(
                                          embedding,
                                          x -> abs(CAST(x AS DOUBLE))))
                                         / 127.0))))
                           / len(embedding) AS err
                FROM embeddings
            )
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n_vectors,
                   round(CAST(sum(CAST(scale AS DECIMAL(20,12))) AS DOUBLE)
                         / count(scale), 6) AS avg_scale,
                   round(CAST(sum(CAST(err AS DECIMAL(20,12))) AS DOUBLE)
                         / count(err), 6) AS avg_recon_err,
                   round(max(err), 6) AS max_recon_err
            FROM per_vec
            GROUP BY label
            ORDER BY label
        """,
        doc="int8 symmetric quantization QA: per-label scale + reconstruction-error profile (ANN index storage path), pure HOFs",
    )
)

register(
    QuerySpec(
        name="t72_stream_dedup_store",
        builder=stream_jobs.stream_incremental_dedup,
        oracle="""
            SELECT fingerprint,
                   CAST(min(doc_id) AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_dups
            FROM (
                SELECT md5(lower(trim(text))) AS fingerprint, doc_id
                FROM documents
            )
            GROUP BY fingerprint
            ORDER BY doc_id
        """,
        doc="streaming dedup-store compaction: foreachBatch (min,sum)-merge per fingerprint over document micro-batches; drained store equals one-shot T17",
    )
)

register(
    QuerySpec(
        name="t71_approx_percentiles",
        builder=rel_ops.approx_segment_percentiles,
        oracle=None,  # GK sketch values aren't SQL-portable (DuckDB's
        # approx_quantile uses t-digest); the GK rank-error bound vs exact
        # T35 is pinned in
        # tests/test_approx_ops.py::test_approx_percentiles_within_rank_error
        doc="GK-sketch percentiles (median, p90) per segment — bounded-memory scale path of exact T35, rank error <= 1/accuracy",
    )
)

register(
    QuerySpec(
        name="t70_corpus_mix",
        builder=ts_ops.corpus_mix,
        oracle="""
            WITH cells AS (
                SELECT source, lang,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(len(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           t -> t <> ''))) AS BIGINT) AS n_tokens
                FROM documents
                GROUP BY source, lang
            )
            SELECT source, lang, n_docs, n_tokens,
                   round(n_tokens / CAST((SELECT sum(n_tokens) FROM cells)
                                         AS DOUBLE), 6) AS token_share
            FROM cells
            ORDER BY source, lang
        """,
        doc="training-mix report: docs/tokens/corpus-share per (source, lang) cell — the input to stratified rebalancing (t57)",
    )
)

register(
    QuerySpec(
        name="t76_decontamination",
        builder=dedup_ops.decontamination_report,
        oracle="""
            WITH toks AS (
                SELECT doc_id, source,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens
                FROM documents
            ),
            sh AS (
                SELECT doc_id, source,
                       CASE WHEN len(tokens) >= 4 THEN
                           list_distinct(list_transform(range(1, len(tokens) - 2),
                               i -> array_to_string(tokens[i:i+3], ' ')))
                       ELSE [] END AS shingles
                FROM toks
            ),
            eval_idx AS (
                SELECT doc_id AS eval_doc, unnest(shingles) AS shingle
                FROM sh WHERE source = 'src0'
            ),
            tr AS (
                SELECT doc_id, unnest(shingles) AS shingle
                FROM sh WHERE source <> 'src0'
            ),
            hits AS (
                SELECT tr.doc_id,
                       count(DISTINCT tr.shingle) AS n_shared,
                       count(DISTINCT eval_idx.eval_doc) AS n_eval_docs
                FROM tr JOIN eval_idx USING (shingle)
                GROUP BY tr.doc_id
            ),
            sizes AS (
                SELECT doc_id, source, len(shingles) AS n_shingles
                FROM sh WHERE source <> 'src0'
            )
            SELECT s.doc_id, s.source,
                   CAST(s.n_shingles AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
                   CAST(coalesce(h.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
                   CASE WHEN s.n_shingles > 0
                        THEN round(coalesce(h.n_shared, 0) / s.n_shingles, 6)
                        ELSE 0.0 END AS contamination_rate
            FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
            ORDER BY s.doc_id
        """,
        doc="train/eval 4-gram contamination report (benchmark leakage scan): per train doc, shingles shared with the eval corpus + eval docs hit",
    )
)

register(
    QuerySpec(
        name="t77_simhash_near_dup",
        builder=dedup_ops.simhash_near_dup_pairs,
        oracle=f"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(token), 1, 8))::BIGINT AS h32
                FROM tok WHERE token <> ''
            ),
            votes AS (
                SELECT doc_id,
                       {_votes_sql}
                FROM h GROUP BY doc_id
            ),
            fp AS (
                SELECT doc_id, CAST({_bits_sql} AS BIGINT) AS simhash
                FROM votes
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                       AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY doc_a, doc_b
        """,
        doc="SimHash near-dup pairs at Hamming<=3 via 4x8-bit banded equi-join (pigeonhole-exact recall; oracle is the brute-force all-pairs form)",
    )
)

register(
    QuerySpec(
        name="t78_returned_items_topk",
        builder=rel_ops.returned_items_revenue,
        oracle="""
            SELECT c_custkey, c_name,
                   round(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE), 2)
                       AS c_acctbal,
                   n_name,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(3,2))))
                              AS DOUBLE), 6) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND c_nationkey = n_nationkey
              AND l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        doc="TPC-H Q10 shape: top-20 customers by returned-item lost revenue over one quarter",
    )
)

register(
    QuerySpec(
        name="t82_kmeans_clusters",
        builder=sim_ops.kmeans_cluster_stats,
        oracle=None,  # iterative fit — not SQL-portable; invariants in tests/test_approx_ops.py
        doc="Lloyd's k-means over embeddings (driver-held k x dim state, narrow assignment projection, decimal-exact updates): per-cluster member/cosine QA",
    )
)

register(
    QuerySpec(
        name="t79_pii_scrub",
        builder=event_ops.pii_scrub_stats,
        oracle="""
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(len(props) -
                            len(regexp_replace(props, '[0-9]', '', 'g')))
                        AS BIGINT) AS n_masked_chars,
                   CAST(sum(CASE WHEN len(props) -
                                      len(regexp_replace(props, '[0-9]', '', 'g'))
                                      > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
                   CAST(count(DISTINCT regexp_replace(props, '[0-9]', '#', 'g'))
                        AS BIGINT) AS n_templates
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="PII-redaction stage audit: digits in JSON props masked, per-event-type masked-char/template report",
    )
)

register(
    QuerySpec(
        name="t80_vocab_coverage",
        builder=ts_ops.vocab_coverage,
        oracle="""
            WITH toks AS (
                SELECT unnest(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           t -> t <> '')) AS token
                FROM documents
            ),
            counts AS (
                SELECT token, CAST(count(*) AS BIGINT) AS n
                FROM toks GROUP BY token
            ),
            total AS (SELECT sum(n) AS total FROM counts),
            topk AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 20)
            SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
                       AS rank,
                   token, n,
                   round(n / (SELECT total FROM total), 6) AS share,
                   round(sum(n) OVER (ORDER BY n DESC, token
                                      ROWS UNBOUNDED PRECEDING)
                         / (SELECT total FROM total), 6) AS cum_share
            FROM topk ORDER BY rank
        """,
        doc="tokenizer-sizing vocabulary report: top-20 tokens with corpus share and cumulative coverage",
    )
)

register(
    QuerySpec(
        name="t81_big_volume_orders",
        builder=rel_ops.big_volume_orders,
        oracle="""
            WITH qty AS (
                SELECT l_orderkey,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                           AS total_qty
                FROM lineitem
                GROUP BY l_orderkey
                HAVING total_qty > 150
            )
            SELECT c_custkey, c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 2)
                       AS o_totalprice,
                   total_qty
            FROM qty
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY total_qty DESC, o_orderkey
            LIMIT 100
        """,
        doc="TPC-H Q18 shape: top-100 large-volume orders (HAVING on order-grain quantity, then join out)",
    )
)

register(
    QuerySpec(
        name="t85_order_priority_check",
        builder=rel_ops.order_priority_check,
        oracle="""
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        doc="TPC-H Q4 shape: per-priority count of orders with a late-shipping line (EXISTS -> left-semi join)",
    )
)

register(
    QuerySpec(
        name="t86_nation_pair_volume",
        builder=rel_ops.nation_pair_volume,
        oracle="""
            SELECT supp_nation, cust_nation, l_year,
                   round(CAST(sum(vol) AS DOUBLE), 6) AS revenue
            FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                       CAST(year(l_shipdate) AS INTEGER) AS l_year,
                       CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2))) AS vol
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            )
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        doc="TPC-H Q7 shape: bidirectional nation-pair shipping volume by year (broadcast dims, one fact-fact shuffle)",
    )
)

register(
    QuerySpec(
        name="t87_nation_market_share",
        builder=rel_ops.nation_market_share,
        oracle="""
            SELECT o_year,
                   round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
                                       ELSE CAST(0 AS DECIMAL(12,2)) END)
                              AS DOUBLE)
                         / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
            FROM (
                SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                       sn.n_name AS supp_nation,
                       CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2))) AS vol
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation cn ON c_nationkey = cn.n_nationkey
                JOIN region ON cn.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation sn ON s_nationkey = sn.n_nationkey
                WHERE r_name = 'EUROPE'
            )
            GROUP BY o_year
            ORDER BY o_year
        """,
        doc="TPC-H Q8 shape: one supplier-nation's market share of a customer region per year (conditional agg, single pass)",
    )
)

register(
    QuerySpec(
        name="t88_product_type_profit",
        builder=rel_ops.product_type_profit,
        oracle="""
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(3,2))))
                              AS DOUBLE), 6) AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_type = 'PROMO'
            GROUP BY 1, 2
            ORDER BY 1, 2 DESC
        """,
        doc="TPC-H Q9 shape: one product type's revenue by supplier nation and order year (filtered broadcast part dim)",
    )
)

register(
    QuerySpec(
        name="t89_customer_order_distribution",
        builder=rel_ops.customer_order_distribution,
        oracle="""
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (
                SELECT c_custkey,
                       CAST(count(o_orderkey) AS BIGINT) AS c_count
                FROM customer
                LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        doc="TPC-H Q13 shape: histogram of customers by order count incl. zero (left join, two-level agg)",
    )
)

register(
    QuerySpec(
        name="t90_promo_revenue_share",
        builder=rel_ops.promo_revenue_share,
        oracle="""
            SELECT round(
                (100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN vol
                                       ELSE CAST(0 AS DECIMAL(12,2)) END)
                              AS DOUBLE))
                / CAST(sum(vol) AS DOUBLE), 6) AS promo_revenue_pct
            FROM (
                SELECT p_type,
                       CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2))) AS vol
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
            )
        """,
        doc="TPC-H Q14 shape: PROMO parts' share of one month's revenue (conditional agg, broadcast part)",
    )
)

register(
    QuerySpec(
        name="t91_top_supplier",
        builder=rel_ops.top_supplier,
        oracle="""
            WITH rev AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2)))) AS rev_dec
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
                GROUP BY l_suppkey
            )
            SELECT CAST(l_suppkey AS BIGINT) AS suppkey, s_name,
                   round(CAST(rev_dec AS DOUBLE), 6) AS total_revenue
            FROM rev
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
            ORDER BY suppkey
        """,
        doc="TPC-H Q15 shape: supplier(s) with max quarterly revenue (grouped agg + keep-the-max, exact decimal ties)",
    )
)

register(
    QuerySpec(
        name="t92_parts_supplier_counts",
        builder=rel_ops.parts_supplier_counts,
        oracle="""
            SELECT p_brand,
                   CAST(p_size % 5 AS INTEGER) AS size_bucket,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
            GROUP BY p_brand, size_bucket
            ORDER BY supplier_cnt DESC, p_brand, size_bucket
        """,
        doc="TPC-H Q16 shape: distinct supplier count per (brand, size bucket), key-pair dedup before the join",
    )
)

register(
    QuerySpec(
        name="t93_small_quantity_revenue",
        builder=rel_ops.small_quantity_revenue,
        oracle="""
            WITH li AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#2'
            ),
            avgq AS (
                SELECT l_partkey AS a_partkey,
                       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                           / count(*) AS avg_qty
                FROM li GROUP BY l_partkey
            )
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                              AS DOUBLE) / 7.0, 6) AS avg_yearly
            FROM li
            JOIN avgq ON l_partkey = a_partkey
            WHERE l_quantity < 0.2 * avg_qty
        """,
        doc="TPC-H Q17 shape: revenue lost to below-20%%-of-average-quantity lines of one brand (grouped avg joined back)",
    )
)

register(
    QuerySpec(
        name="t94_branded_discount_revenue",
        builder=rel_ops.branded_discount_revenue,
        oracle="""
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(3,2))))
                              AS DOUBLE), 6) AS revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        doc="TPC-H Q19 shape: OR-of-ANDs predicate revenue (brand x size x quantity branches in one join+filter)",
    )
)

register(
    QuerySpec(
        name="t95_suppliers_who_failed_alone",
        builder=rel_ops.suppliers_who_failed_alone,
        oracle="""
            WITH per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_suppliers,
                       count(DISTINCT CASE WHEN l_returnflag = 'R'
                                           THEN l_suppkey END) AS n_failing,
                       min(CASE WHEN l_returnflag = 'R'
                                THEN l_suppkey END) AS failing_suppkey
                FROM lineitem
                GROUP BY l_orderkey
            )
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM per_order
            JOIN supplier ON failing_suppkey = s_suppkey
            WHERE n_suppliers >= 2 AND n_failing = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        doc="TPC-H Q21 shape: sole-failing supplier on multi-supplier orders via ONE order-grain agg (no correlated self-joins)",
    )
)

register(
    QuerySpec(
        name="t96_global_sales_opportunity",
        builder=rel_ops.global_sales_opportunity,
        oracle="""
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS numcust,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)))
                              AS DOUBLE), 6) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)))
                                AS DOUBLE) / count(*)
                    FROM customer WHERE c_acctbal > 0
                  )
              AND NOT EXISTS (
                    SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
                  )
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        doc="TPC-H Q22 shape: above-average-balance customers inactive since a cutoff, per segment (broadcast scalar avg + anti join)",
    )
)

register(
    QuerySpec(
        name="t97_important_part_values",
        builder=rel_ops.important_part_values,
        oracle="""
            WITH per_part AS (
                SELECT l_partkey,
                       sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2)))) AS value_dec
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_5'
                GROUP BY l_partkey
            )
            SELECT CAST(l_partkey AS BIGINT) AS partkey,
                   round(CAST(value_dec AS DOUBLE), 6) AS part_value
            FROM per_part
            WHERE CAST(value_dec AS DOUBLE) >
                  CAST((SELECT sum(value_dec) FROM per_part) AS DOUBLE) * 0.001
            ORDER BY part_value DESC, partkey
        """,
        doc="TPC-H Q11 shape: parts whose one-nation revenue exceeds a fraction of the grand total (broadcast scalar subquery)",
    )
)

register(
    QuerySpec(
        name="t98_eligible_bulk_suppliers",
        builder=rel_ops.eligible_bulk_suppliers,
        oracle="""
            SELECT CAST(s_suppkey AS BIGINT) AS suppkey, s_name,
                   CAST(s_nationkey AS INTEGER) AS nationkey
            FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'SMALL'
                  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(l_quantity) > 60
            )
            ORDER BY suppkey
        """,
        doc="TPC-H Q20 shape: suppliers shipping bulk volume of one part type (HAVING at pair grain, then left-semi)",
    )
)

register(
    QuerySpec(
        name="t99_weekly_cohort_retention",
        builder=event_ops.weekly_cohort_retention,
        oracle="""
            WITH ev AS (
                SELECT user_id, date_trunc('week', ts) AS week FROM events
            ),
            cohort AS (
                SELECT user_id, min(week) AS cw FROM ev GROUP BY user_id
            )
            SELECT strftime(cw, '%Y-%m-%d %H:%M:%S') AS cohort_week,
                   CAST(date_diff('day', cw, week) / 7 AS INTEGER)
                       AS week_offset,
                   CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
            FROM ev JOIN cohort ON ev.user_id = cohort.user_id
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        doc="weekly cohort retention matrix: distinct users per (first-seen week, weeks-since)",
    )
)

register(
    QuerySpec(
        name="t100_event_type_transitions",
        builder=event_ops.event_type_transitions,
        oracle="""
            WITH pairs AS (
                SELECT event_type AS src,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS dst
                FROM events
            )
            SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
            FROM pairs WHERE dst IS NOT NULL
            GROUP BY src, dst
            ORDER BY n_transitions DESC, src, dst
            LIMIT 20
        """,
        doc="per-user consecutive event-type bigrams (lead window), global top-20 transitions",
    )
)

register(
    QuerySpec(
        name="t101_user_rfm_segments",
        builder=event_ops.user_rfm_segments,
        oracle="""
            WITH per_user AS (
                SELECT user_id,
                       CAST(date_diff('day', CAST(max(ts) AS DATE),
                                      (SELECT CAST(max(ts) AS DATE)
                                       FROM events)) AS INTEGER)
                           AS recency_days,
                       CAST(count(*) AS BIGINT) AS frequency,
                       round(CAST(sum(CAST(value AS DECIMAL(20,12)))
                                  AS DOUBLE), 6) AS monetary
                FROM events GROUP BY user_id
            )
            SELECT user_id, recency_days, frequency, monetary,
                   CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id)
                        AS INTEGER) AS r_quartile,
                   CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id)
                        AS INTEGER) AS f_quartile,
                   CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id)
                        AS INTEGER) AS m_quartile
            FROM per_user
            ORDER BY user_id
        """,
        doc="RFM segmentation: per-user recency/frequency/exact-decimal monetary with deterministic ntile(4) quartiles",
    )
)

register(
    QuerySpec(
        name="t102_hourly_conversion",
        builder=event_ops.hourly_conversion,
        oracle="""
            SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_views,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purchases,
                   round(CAST(sum(CASE WHEN event_type = 'purchase'
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / NULLIF(sum(CASE WHEN event_type = 'view'
                                           THEN 1 ELSE 0 END), 0), 6)
                       AS conversion
            FROM events
            GROUP BY 1
            ORDER BY 1
        """,
        doc="view-to-purchase conversion rate by hour of day (conditional counts, one agg)",
    )
)

register(
    QuerySpec(
        name="t103_error_bursts",
        builder=event_ops.error_bursts,
        oracle="""
            WITH buckets AS (
                SELECT user_id, epoch_us(ts) // 300000000 AS bucket
                FROM events WHERE event_type = 'error'
            ),
            agg AS (
                SELECT user_id, bucket,
                       CAST(count(*) AS BIGINT) AS n_errors
                FROM buckets GROUP BY user_id, bucket
                HAVING count(*) >= 2
            )
            SELECT user_id,
                   strftime(make_timestamp(bucket * 300000000),
                            '%Y-%m-%d %H:%M:%S') AS bucket_start,
                   n_errors
            FROM agg
            ORDER BY n_errors DESC, user_id, bucket_start
            LIMIT 20
        """,
        doc="error-burst detection: 5-min tumbling buckets per user with >=2 errors, top-20 (integer-us bucketing)",
    )
)

register(
    QuerySpec(
        name="t104_cumulative_monthly_revenue",
        builder=rel_ops.cumulative_monthly_revenue,
        oracle="""
            WITH monthly AS (
                SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                           AS month,
                       sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
                FROM orders GROUP BY 1
            )
            SELECT month,
                   round(CAST(rev_dec AS DOUBLE), 6) AS revenue,
                   round(CAST(sum(rev_dec) OVER (
                       ORDER BY month ROWS UNBOUNDED PRECEDING
                   ) AS DOUBLE), 6) AS cum_revenue,
                   round(CAST(rev_dec AS DOUBLE)
                         / CAST((SELECT sum(rev_dec) FROM monthly)
                                AS DOUBLE), 6) AS share
            FROM monthly
            ORDER BY month
        """,
        doc="month-grain revenue with running cumulative and share-of-total (exact decimal, window cumsum)",
    )
)

register(
    QuerySpec(
        name="t105_doc_length_deciles",
        builder=ts_ops.doc_length_deciles,
        oracle="""
            WITH d AS (
                SELECT doc_id, n_chars,
                       ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
                FROM documents
            )
            SELECT CAST(decile AS INTEGER) AS decile,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(n_chars) AS BIGINT) AS min_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_chars,
                   round(CAST(sum(CAST(n_chars AS DECIMAL(20,2))) AS DOUBLE)
                         / count(*), 6) AS avg_chars
            FROM d GROUP BY 1 ORDER BY 1
        """,
        doc="corpus length profile: exact decile buckets over (n_chars, doc_id) with per-decile stats",
    )
)

register(
    QuerySpec(
        name="t106_lexical_diversity",
        builder=ts_ops.lexical_diversity,
        oracle="""
            WITH tok AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text),
                                                             '\\s+'),
                                          t -> t <> '')) AS token
                FROM documents
            ),
            counts AS (
                SELECT doc_id, token, count(*) AS c
                FROM tok GROUP BY doc_id, token
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hapax,
                   round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr
            FROM counts GROUP BY doc_id ORDER BY doc_id
        """,
        doc="per-document lexical diversity: tokens, types, hapax legomena, type-token ratio",
    )
)

register(
    QuerySpec(
        name="t107_source_quality_matrix",
        builder=ts_ops.source_quality_matrix,
        oracle="""
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(CAST(sum(CAST(len(list_filter(
                                string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS DECIMAL(20,2)))
                              AS DOUBLE) / count(*), 6) AS avg_tokens,
                   round(CAST(sum(CAST(n_chars AS DECIMAL(20,2))) AS DOUBLE)
                         / count(*), 6) AS avg_chars
            FROM documents
            GROUP BY source, lang
            ORDER BY source, lang
        """,
        doc="per (source, lang) corpus composition: doc counts, exact mean tokens/chars",
    )
)

register(
    QuerySpec(
        name="t108_stopword_quality_gate",
        builder=ts_ops.stopword_quality_gate,
        oracle="""
            WITH r AS (
                SELECT source,
                       len(list_filter(string_split_regex(lower(text),
                                                          '\\s+'),
                                       t -> t <> '')) AS n_toks,
                       CAST(len(list_filter(string_split_regex(lower(text),
                                                               '\\s+'),
                                            t -> t IN ('the','a','of','and',
                                                       'to','in','is','it')))
                            AS DOUBLE)
                           / len(list_filter(string_split_regex(lower(text),
                                                                '\\s+'),
                                             t -> t <> '')) AS stop_ratio
                FROM documents
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN n_toks >= 10 AND stop_ratio >= 0.05
                                      AND stop_ratio <= 0.6
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                   round(CAST(sum(CASE WHEN n_toks >= 10
                                            AND stop_ratio >= 0.05
                                            AND stop_ratio <= 0.6
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS pass_rate
            FROM r GROUP BY source ORDER BY source
        """,
        doc="C4/Gopher-style stopword-band quality gate: per-source pass counts and rate (per-row HOF fold, no explode)",
    )
)

from mapreduce_google_spark.streaming import jobs as stream_jobs  # noqa: E402

register(
    QuerySpec(
        name="t109_stream_enriched_segments",
        builder=stream_jobs.stream_enriched_segment_counts,
        oracle="""
            SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(20,12))) AS DOUBLE),
                         6) AS total_value
            FROM events
            LEFT JOIN customer ON user_id = c_custkey
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        doc="stream-static enrichment join: events stream x broadcast customer dim per micro-batch, per (segment, event_type) counts",
    )
)

register(
    QuerySpec(
        name="t110_schema_evolution",
        builder=scale_ops.schema_evolution_report,
        oracle="""
            SELECT CASE WHEN doc_id < 250 THEN '_pre_schema' ELSE lang END
                       AS lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(min(doc_id) AS BIGINT) AS min_doc,
                   CAST(max(doc_id) AS BIGINT) AS max_doc
            FROM documents
            GROUP BY 1
            ORDER BY 1
        """,
        doc="schema-evolution read: v1 files lack the lang column, mergeSchema unifies, old rows null-filled (profiled per coalesced lang)",
    )
)

register(
    QuerySpec(
        name="t111_gap_filled_daily_revenue",
        builder=rel_ops.gap_filled_daily_revenue,
        oracle="""
            WITH spine AS (
                SELECT CAST(unnest(generate_series(DATE '1996-01-01',
                                                   DATE '1996-01-31',
                                                   INTERVAL 1 DAY)) AS DATE)
                           AS day
            ),
            daily AS (
                SELECT CAST(o_orderdate AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
                GROUP BY 1
            )
            SELECT strftime(spine.day, '%Y-%m-%d') AS day,
                   coalesce(n_orders, 0) AS n_orders,
                   round(coalesce(CAST(rev_dec AS DOUBLE), 0.0), 6)
                       AS revenue
            FROM spine LEFT JOIN daily ON spine.day = daily.day
            ORDER BY day
        """,
        doc="time-series densification: generated day spine left-joins daily revenue, missing days zero-filled",
    )
)

register(
    QuerySpec(
        name="t112_feature_hashing",
        builder=ts_ops.feature_hashing,
        oracle="""
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(md5(token), 30, 3)) AS INTEGER)
                        % 64 AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+'))
                           AS token
                FROM documents WHERE doc_id < 100
            )
            WHERE token <> ''
            GROUP BY doc_id, bucket
            ORDER BY doc_id, bucket
        """,
        doc="hashing-trick vectorizer: md5-bucketed sparse bag-of-words counts (vocabulary-free, reference md5 arithmetic)",
    )
)

register(
    QuerySpec(
        name="t113_brand_price_stats",
        builder=rel_ops.brand_price_stats,
        oracle="""
            WITH suff AS (
                SELECT p_brand,
                       CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
                       sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
                       sum(CAST(l_quantity AS DECIMAL(12,2))
                           * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
                       sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
                       sum(CAST(l_quantity AS DECIMAL(12,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                GROUP BY p_brand
            )
            SELECT p_brand, n,
                   round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       AS mean_qty,
                   round(sqrt((CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                 / CAST(n AS DOUBLE))
                              / (CAST(n AS DOUBLE) - 1.0)), 6) AS stddev_qty,
                   round((CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1.0), 6) AS covar_qty_price,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                         6) AS corr_qty_price
            FROM suff
            ORDER BY p_brand
        """,
        doc="deterministic second-moment stats per brand: exact-decimal sufficient statistics, one IEEE combine (stddev/covar/corr without run-to-run drift)",
    )
)

register(
    QuerySpec(
        name="t114_customer_order_years",
        builder=rel_ops.customer_order_years_canonical,
        oracle="""
            SELECT o_custkey AS custkey,
                   array_to_string(
                       list_sort(list(DISTINCT CAST(year(o_orderdate) AS INTEGER))),
                       ',') AS years,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders
            GROUP BY o_custkey
            ORDER BY custkey
        """,
        doc="array aggregation: sorted distinct order years per customer, emitted as a canonical joined string (array form available via customer_order_years)",
    )
)

register(
    QuerySpec(
        name="t115_segment_priority_ranks",
        builder=rel_ops.segment_priority_ranks,
        oracle="""
            WITH counts AS (
                SELECT c_mktsegment, o_orderpriority,
                       CAST(count(*) AS BIGINT) AS n_orders
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                GROUP BY c_mktsegment, o_orderpriority
            )
            SELECT c_mktsegment, o_orderpriority, n_orders,
                   CAST(rank() OVER w AS INTEGER) AS rnk,
                   CAST(dense_rank() OVER w AS INTEGER) AS dense_rnk,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM counts
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY n_orders DESC, o_orderpriority ASC)
            ORDER BY c_mktsegment, rnk, o_orderpriority
        """,
        doc="rank/dense_rank/percent_rank/cume_dist over a total-ordered grouped frame (stable under any partitioning)",
    )
)

register(
    QuerySpec(
        name="t116_dead_letter_ingest",
        builder=scale_ops.dead_letter_ingest_report,
        oracle="""
            SELECT CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_good,
                   CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dead,
                   CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN n_chars
                                 ELSE 0 END) AS BIGINT) AS total_chars_good
            FROM documents
        """,
        doc="corrupt-tolerant JSONL ingest: PERMISSIVE parse splits good rows from a dead-letter quarantine (deterministic doc_id%%13 corruption, exact split re-derived by the oracle)",
    )
)

register(
    QuerySpec(
        name="t117_bucketed_distinct_suppliers",
        builder=scale_ops.bucketed_distinct_suppliers,
        oracle="""
            SELECT l_returnflag,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                              AS DOUBLE), 6) AS revenue
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        doc="skew-safe COUNT DISTINCT: value-space-bucketed partial distincts summed per hot group (3 groups hold the whole table; state spreads over flag x buckets)",
    )
)

register(
    QuerySpec(
        name="t118_unpivoted_pricing_metrics",
        builder=rel_ops.unpivoted_pricing_metrics,
        oracle="""
            WITH wide AS (
                SELECT l_returnflag, l_linestatus,
                       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
                                  AS DOUBLE), 6) AS sum_qty,
                       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                                  AS DOUBLE), 6) AS sum_price,
                       round(CAST(sum(CAST(l_discount AS DECIMAL(3,2)))
                                  AS DOUBLE) / count(l_discount), 6)
                           AS avg_disc
                FROM lineitem
                GROUP BY l_returnflag, l_linestatus
            )
            SELECT l_returnflag, l_linestatus, metric, value
            FROM wide
            UNPIVOT (value FOR metric IN (sum_qty, sum_price, avg_disc))
            ORDER BY l_returnflag, l_linestatus, metric
        """,
        doc="UNPIVOT wide aggregate to metric-per-row long form (zero-shuffle projection after the agg)",
    )
)

register(
    QuerySpec(
        name="t119_pysource_word_count",
        builder=text_ops.pysource_word_count,
        oracle="""
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
            ORDER BY token
        """,
        doc="T01 word count through the pluggable Spark-4 Python DataSource reading the reference's kv-text format (one partition per file); must hash-equal the parquet path",
    )
)

register(
    QuerySpec(
        name="t121_image_dims",
        builder=mm_ops.image_dims,
        oracle="""
            SELECT doc_id,
                   CAST(4 + doc_id % 13 AS INTEGER) AS width,
                   CAST(3 + doc_id % 7 AS INTEGER) AS height,
                   CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 3 ELSE 1 END
                        AS INTEGER) AS channels,
                   CASE WHEN doc_id % 4 IN (0, 1) THEN 'native-png'
                        ELSE 'native-pnm' END AS decoder
            FROM documents
            ORDER BY doc_id
        """,
        doc="native-codec round trip: per-doc synthetic PNG/PPM encoded then header-decoded by the native codecs; dims/format are closed-form in doc_id so DuckDB states the expected output exactly",
    )
)

register(
    QuerySpec(
        name="t125_merge_upsert",
        builder=rel_ops.merge_upsert,
        oracle="""
            SELECT custkey, name, acctbal, row_op FROM (
                SELECT CAST(c_custkey AS BIGINT) AS custkey,
                       c_name AS name,
                       round(CAST(CASE WHEN c_custkey % 10 = 0
                                       THEN c_acctbal + 100
                                       ELSE c_acctbal END AS DOUBLE), 6)
                           AS acctbal,
                       CASE WHEN c_custkey % 10 = 0 THEN 'updated'
                            ELSE 'kept' END AS row_op
                FROM customer
                WHERE c_custkey % 17 <> 0
                UNION ALL
                SELECT CAST(c_custkey + 1000000 AS BIGINT),
                       'NEW-' || CAST(c_custkey AS VARCHAR),
                       0.0,
                       'inserted'
                FROM customer
                WHERE c_custkey % 23 = 0
            )
            ORDER BY custkey
        """,
        doc="MERGE INTO / SCD-1 upsert: one full-outer join applies a deterministic changeset (updates, deletes, inserts) to the customer snapshot; oracle restates the result in closed form",
    )
)

register(
    QuerySpec(
        name="t126_token_pmi",
        builder=ts_ops.token_pmi,
        oracle="""
            WITH toks AS (
                SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens
                FROM documents
            ),
            uni AS (
                SELECT unnest(tokens) AS w FROM toks
            ),
            uni_counts AS (
                SELECT w, count(*) AS c FROM uni GROUP BY w
            ),
            n1 AS (SELECT count(*) AS n1 FROM uni),
            bg AS (
                SELECT tokens[i] AS w1, tokens[i + 1] AS w2
                FROM toks, UNNEST(range(1, len(tokens))) AS t(i)
                WHERE len(tokens) >= 2
            ),
            n2 AS (SELECT count(*) AS n2 FROM bg),
            bg_counts AS (
                SELECT w1, w2, count(*) AS c12
                FROM bg GROUP BY w1, w2
                HAVING count(*) >= 10
            )
            SELECT w1, w2, CAST(c12 AS BIGINT) AS n_pair,
                   round(ln(CAST(c12 AS DOUBLE))
                         - ln(CAST(c1.c AS DOUBLE))
                         - ln(CAST(c2.c AS DOUBLE))
                         - ln(CAST(n2 AS DOUBLE))
                         + 2.0 * ln(CAST(n1 AS DOUBLE)), 6) AS pmi
            FROM bg_counts
            JOIN uni_counts c1 ON c1.w = w1
            JOIN uni_counts c2 ON c2.w = w2
            CROSS JOIN n1 CROSS JOIN n2
            ORDER BY w1, w2
        """,
        doc="collocation mining: PMI of adjacent token pairs from exact corpus counts (fixed ln-term order keeps both engines bit-identical)",
    )
)

register(
    QuerySpec(
        name="t127_label_centroids",
        builder=sim_ops.label_centroids,
        oracle="""
            SELECT label, CAST(i AS INTEGER) AS dim_idx,
                   CAST(count(*) AS BIGINT) AS n_vectors,
                   round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
                                       AS DECIMAL(20,12))) AS DOUBLE)
                         / count(*), 6) AS mean_val
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
            GROUP BY label, i
            ORDER BY label, dim_idx
        """,
        doc="per-label embedding centroid, long form: posexplode + one map-side-combined hash-agg on (label, dim); exact decimal sums, one IEEE division",
    )
)

register(
    QuerySpec(
        name="t128_wav_frame_stats",
        builder=mm_ops.wav_frame_stats,
        oracle="""
            SELECT doc_id,
                   CAST(len(vals) AS BIGINT) AS n_frames,
                   CAST(list_sum(vals) AS BIGINT) AS sum_frames,
                   CAST(list_min(vals) AS INTEGER) AS min_frame,
                   CAST(list_max(vals) AS INTEGER) AS max_frame
            FROM (
                SELECT doc_id,
                       list_transform(range(0, 32 + doc_id % 97, 4),
                                      i -> (i * 13 + doc_id * 7) % 256 - 128)
                           AS vals
                FROM documents
            )
            ORDER BY doc_id
        """,
        doc="native WAV round trip: per-doc synthetic PCM encoded (stdlib wave), frame-sampled by the native WAV kernel; sample values closed-form in doc_id (audio counterpart of t121)",
    )
)

register(
    QuerySpec(
        name="t129_bpe_pair_counts",
        builder=ts_ops.bpe_pair_counts,
        oracle="""
            SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM (
                SELECT unnest(list_transform(range(1, length(lower(text))),
                                             i -> substr(lower(text), i, 2)))
                           AS pair
                FROM documents
                WHERE length(text) >= 2
            )
            WHERE NOT contains(pair, ' ')
            GROUP BY pair
            ORDER BY n_occurrences DESC, pair
            LIMIT 50
        """,
        doc="BPE tokenizer-training kernel: top-50 adjacent character-pair counts (whitespace-crossing pairs excluded), the argmax table each merge iteration consumes",
    )
)

register(
    QuerySpec(
        name="t131_event_debounce",
        builder=event_ops.event_debounce_stats,
        oracle="""
            WITH lagged AS (
                SELECT event_type,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts, event_id
                       ) AS since_prev_us
                FROM events
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(*) FILTER (WHERE since_prev_us IS NOT NULL
                                           AND since_prev_us < 60000000)
                        AS BIGINT) AS n_dropped,
                   CAST(count(*) FILTER (WHERE since_prev_us IS NULL
                                            OR since_prev_us >= 60000000)
                        AS BIGINT) AS n_kept
            FROM lagged
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="lag-based event debounce per (user, type): kept/dropped counts with integer-microsecond time math",
    )
)

register(
    QuerySpec(
        name="t132_session_paths",
        builder=event_ops.session_paths,
        oracle="""
            WITH flagged AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                 > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sessions AS (
                SELECT user_id, ts, event_id, event_type,
                       sum(is_new) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                           AS session_seq
                FROM flagged
            ),
            ranked AS (
                SELECT user_id, session_seq, event_type,
                       row_number() OVER (PARTITION BY user_id, session_seq
                                          ORDER BY ts, event_id) AS rn
                FROM sessions
            ),
            paths AS (
                SELECT user_id, session_seq,
                       string_agg(event_type, '>' ORDER BY rn) AS path
                FROM ranked
                WHERE rn <= 3
                GROUP BY user_id, session_seq
            )
            SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
            FROM paths
            GROUP BY path
            ORDER BY n_sessions DESC, path
            LIMIT 25
        """,
        doc="top-25 session opening paths (first three event types per 30-min-gap session) via one gaps-and-islands window pass",
    )
)

register(
    QuerySpec(
        name="t133_event_type_runs",
        builder=event_ops.event_type_runs,
        oracle="""
            WITH flagged AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN lag(event_type) OVER w IS NULL
                              OR lag(event_type) OVER w <> event_type
                            THEN 1 ELSE 0 END AS changed
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            runs AS (
                SELECT user_id, ts, event_type,
                       sum(changed) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING)
                           AS run_seq
                FROM flagged
            )
            SELECT user_id, event_type,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS run_start,
                   CAST(count(*) AS BIGINT) AS run_length
            FROM runs
            GROUP BY user_id, run_seq, event_type
            ORDER BY run_length DESC, user_id, run_start
            LIMIT 30
        """,
        doc="run-length encoding of per-user event streams (islands on type change — the SCD-2 interval-building kernel); top-30 longest runs",
    )
)

register(
    QuerySpec(
        name="t134_containment_pairs",
        builder=dedup_ops.containment_pairs,
        oracle="""
            WITH """ + _TOKENS_CTE + """,
            shingles AS (
                SELECT DISTINCT doc_id, shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(tokens) - 1),
                               i -> array_to_string(tokens[i:i+2], ' ')))
                               AS shingle
                    FROM toks WHERE len(tokens) >= 3
                )
            ),
            sizes AS (
                SELECT doc_id, count(*) AS set_size
                FROM shingles GROUP BY doc_id
            ),
            common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM shingles a JOIN shingles b
                  ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(n_common / sa.set_size, 6) AS containment
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            WHERE round(n_common / sa.set_size, 6) >= 0.8
            ORDER BY doc_a, doc_b
        """,
        doc="asymmetric containment near-dup (|A∩B|/|A| >= 0.8): catches quote/excerpt duplication that symmetric Jaccard misses",
    )
)

register(
    QuerySpec(
        name="t135_cross_source_dup_matrix",
        builder=dedup_ops.cross_source_dup_matrix,
        oracle="""
            WITH """ + _TOKENS_CTE + """,
            shingles AS (
                SELECT DISTINCT doc_id, shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(tokens) - 1),
                               i -> array_to_string(tokens[i:i+2], ' ')))
                               AS shingle
                    FROM toks WHERE len(tokens) >= 3
                )
            ),
            sizes AS (
                SELECT doc_id, count(*) AS set_size
                FROM shingles GROUP BY doc_id
            ),
            common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM shingles a JOIN shingles b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM common
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(n_common /
                            (sa.set_size + sb.set_size - n_common), 6) >= 0.5
            )
            SELECT least(da.source, db.source) AS source_1,
                   greatest(da.source, db.source) AS source_2,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs
            JOIN documents da ON da.doc_id = doc_a
            JOIN documents db ON db.doc_id = doc_b
            GROUP BY 1, 2
            ORDER BY source_1, source_2
        """,
        doc="provenance leakage: near-dup pair counts per unordered (source, source) cell — which feeds copy each other",
    )
)

register(
    QuerySpec(
        name="t136_curation_funnel",
        builder=ts_ops.curation_funnel,
        oracle="""
            WITH base AS (
                SELECT doc_id, source, lang, text,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CAST(length(text) -
                            length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                            AS BIGINT) AS n_punct,
                       md5(lower(trim(text))) AS fingerprint
                FROM documents
            ),
            scored AS (
                SELECT doc_id, source, lang, fingerprint,
                       round(CAST(
                           (CASE WHEN len(tokens) BETWEEN 5 AND 100000
                                 THEN 0.4 ELSE 0.0 END)
                           + (CASE WHEN (CASE WHEN n_chars > 0
                                         THEN n_punct / CAST(n_chars AS DOUBLE)
                                         ELSE 0.0 END) < 0.2
                              THEN 0.3 ELSE 0.0 END)
                           + (CASE WHEN (CASE WHEN len(tokens) > 0
                                         THEN len(list_filter(tokens,
                                              t -> list_contains(
                                                  ['the','a','of','and',
                                                   'der','el','la'], t)))
                                              / CAST(len(tokens) AS DOUBLE)
                                         ELSE 0.0 END) > 0.01
                              THEN 0.3 ELSE 0.0 END) AS DOUBLE), 6)
                           AS quality,
                       doc_id = min(doc_id) OVER (PARTITION BY fingerprint)
                           AS keep_dedup
                FROM base
            ),
            flagged AS (
                SELECT source,
                       lang IN ('en', 'de', 'es') AS lang_ok,
                       lang IN ('en', 'de', 'es') AND quality >= 0.65
                           AS qual_ok,
                       lang IN ('en', 'de', 'es') AND quality >= 0.65
                           AND keep_dedup AS uniq_ok
                FROM scored
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_total,
                   CAST(count(*) FILTER (WHERE lang_ok) AS BIGINT)
                       AS n_lang_ok,
                   CAST(count(*) FILTER (WHERE qual_ok) AS BIGINT)
                       AS n_quality_ok,
                   CAST(count(*) FILTER (WHERE uniq_ok) AS BIGINT) AS n_kept
            FROM flagged
            GROUP BY source
            ORDER BY source
        """,
        doc="per-source curation funnel: language keep-list, quality-composite gate, exact-dedup winner — cumulative retention counts (the pipeline-of-pipelines view)",
    )
)

def _skew_profile_sql(key_col: str) -> str:
    """One key column's slice of the t137 oracle (mirrors the Spark
    count-of-counts construction exactly)."""
    return f"""
        SELECT key_col, stat, value FROM (
            WITH counts AS (
                SELECT {key_col} AS key, count(*) AS fanout
                FROM lineitem GROUP BY 1
            ),
            dist AS (
                SELECT fanout, count(*) AS nk FROM counts GROUP BY 1
            ),
            total AS (SELECT sum(nk) AS n FROM dist),
            cum AS (
                SELECT fanout,
                       sum(nk) OVER (ORDER BY fanout
                                     ROWS UNBOUNDED PRECEDING) AS cum_keys
                FROM dist
            )
            SELECT '{key_col}' AS key_col, 'n_keys' AS stat,
                   CAST((SELECT n FROM total) AS BIGINT) AS value
            UNION ALL
            SELECT '{key_col}', 'max',
                   CAST((SELECT max(fanout) FROM counts) AS BIGINT)
            UNION ALL
            SELECT '{key_col}', 'p50',
                   CAST((SELECT min(fanout) FROM cum, total
                         WHERE cum_keys >= CAST(ceil(0.5 * n) AS BIGINT))
                        AS BIGINT)
            UNION ALL
            SELECT '{key_col}', 'p90',
                   CAST((SELECT min(fanout) FROM cum, total
                         WHERE cum_keys >= CAST(ceil(0.9 * n) AS BIGINT))
                        AS BIGINT)
            UNION ALL
            SELECT '{key_col}', 'p99',
                   CAST((SELECT min(fanout) FROM cum, total
                         WHERE cum_keys >= CAST(ceil(0.99 * n) AS BIGINT))
                        AS BIGINT)
            UNION ALL
            SELECT '{key_col}', 'hitter_' || lpad(CAST(rn AS VARCHAR), 2, '0'),
                   CAST(fanout AS BIGINT)
            FROM (
                SELECT fanout,
                       row_number() OVER (ORDER BY fanout DESC, key ASC) AS rn
                FROM counts
            )
            WHERE rn <= 10
        )
    """


register(
    QuerySpec(
        name="t137_join_skew_profile",
        builder=scale_ops.join_skew_profile,
        oracle=(
            _skew_profile_sql("l_orderkey")
            + " UNION ALL "
            + _skew_profile_sql("l_suppkey")
            + " ORDER BY key_col, stat"
        ),
        doc="pre-join skew diagnostic: exact fanout percentiles from the count-of-counts distribution plus top-10 heavy hitters per join key — the report salting factors and AQE thresholds are chosen from",
    )
)

register(
    QuerySpec(
        name="t138_tfidf_top_terms",
        builder=ts_ops.tfidf_top_terms,
        oracle="""
            WITH """ + _TOKENS_CTE + """,
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
                GROUP BY doc_id, term
            ),
            dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
            scored AS (
                SELECT doc_id, term,
                       round(tf * ln(n_docs / df), 6) AS tfidf
                FROM tf JOIN dfc USING (term) CROSS JOIN n
            )
            SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tfidf
            FROM (
                SELECT doc_id, term, tfidf,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, term) AS rnk
                FROM scored
            )
            WHERE rnk <= 3
            ORDER BY doc_id, rnk
        """,
        doc="keyword extraction: per-doc top-3 TF-IDF terms; rank on the rounded score with term tiebreak so the cut is engine-independent",
    )
)

register(
    QuerySpec(
        name="t139_duplicate_span_coverage",
        builder=dedup_ops.duplicate_span_coverage,
        oracle="""
            WITH """ + _TOKENS_CTE + """,
            spans AS (
                SELECT DISTINCT doc_id, span FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(tokens) - 4),
                               i -> array_to_string(tokens[i:i+5], ' ')))
                               AS span
                    FROM toks WHERE len(tokens) >= 6
                )
            ),
            dfc AS (SELECT span, count(*) AS df FROM spans GROUP BY span)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_spans,
                   round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                         / count(*), 6) AS dup_frac
            FROM spans JOIN dfc USING (span)
            GROUP BY doc_id
            ORDER BY doc_id
        """,
        doc="exact substring-dedup signal: fraction of each doc's distinct 6-token spans that occur in >=2 docs (Lee et al. 2022 span-dedup, restated as a per-doc coverage metric)",
    )
)

register(
    QuerySpec(
        name="t140_mixing_weights",
        builder=sample_ops.mixing_weights,
        oracle="""
            WITH grp AS (
                SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source, lang
            ),
            scaled AS (
                SELECT source, lang, n_docs,
                       CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(20,12))
                           AS w_dec
                FROM grp
            ),
            total AS (SELECT sum(w_dec) AS w_total FROM scaled)
            SELECT source, lang, n_docs,
                   round(CAST(w_dec AS DOUBLE) / CAST(w_total AS DOUBLE), 6)
                       AS weight
            FROM scaled CROSS JOIN total
            ORDER BY source, lang
        """,
        doc="pretraining mix composition: per-(source,lang) weight proportional to count^0.5 (temperature down-weighting of huge sources); sqrt quantized to decimal(20,12) so the normalizer is order-independent",
    )
)

register(
    QuerySpec(
        name="t141_weighted_sample",
        builder=sample_ops.weighted_sample_topk,
        oracle="""
            SELECT doc_id, n_chars,
                   round(pow(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                             ::BIGINT / 4503599627370496.0,
                             1.0 / CAST(n_chars AS DOUBLE)), 6) AS score
            FROM documents
            ORDER BY score DESC, doc_id ASC
            LIMIT 100
        """,
        doc="Efraimidis-Spirakis weighted sampling without replacement: score=u^(1/w), u from 52 md5 bits (exact in a double), w=n_chars; global top-k is the sample",
    )
)

register(
    QuerySpec(
        name="t142_zipf_fit",
        builder=ts_ops.zipf_fit,
        oracle="""
            WITH counts AS (
                SELECT token, CAST(count(*) AS BIGINT) AS freq
                FROM (
                    SELECT unnest(list_filter(
                        string_split_regex(lower(text), '\\s+'),
                        t -> t <> '')) AS token
                    FROM documents
                )
                GROUP BY token
            ),
            pts AS (
                SELECT
                    CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(20,12)) AS x,
                    CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(20,12)) AS y,
                    CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(freq AS DOUBLE))
                         AS DECIMAL(20,12)) AS xy,
                    CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                         AS DECIMAL(20,12)) AS xx
                FROM (
                    SELECT freq,
                           row_number() OVER (ORDER BY freq DESC, token) AS r
                    FROM counts
                )
            ),
            s AS (
                SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(x) AS DOUBLE) AS sx,
                       CAST(sum(y) AS DOUBLE) AS sy,
                       CAST(sum(xy) AS DOUBLE) AS sxy,
                       CAST(sum(xx) AS DOUBLE) AS sxx
                FROM pts
            )
            SELECT CAST(n AS BIGINT) AS n_terms,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                       AS slope,
                   round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                         / n, 6) AS intercept
            FROM s
        """,
        doc="corpus health probe: least-squares Zipf exponent of ln(freq) vs ln(rank); per-point ln/products quantized to decimal(20,12) before the regression sums",
    )
)

register(
    QuerySpec(
        name="t143_late_event_accounting",
        builder=event_ops.late_event_accounting,
        oracle="""
            WITH ev AS (
                SELECT event_id, event_type, user_id,
                       epoch_us(ts) AS ts_us,
                       md5(CAST(event_id AS VARCHAR)) AS arr
                FROM events
            ),
            lat AS (
                SELECT event_type,
                       greatest(coalesce(
                           max(ts_us) OVER (PARTITION BY user_id
                                            ORDER BY arr, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND 1 PRECEDING)
                           - ts_us, 0), 0) AS late_us
                FROM ev
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_late,
                   CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dropped,
                   CAST(max(late_us) AS BIGINT) AS max_late_us
            FROM lat
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="keyed-watermark lateness accounting over a deterministic md5-shuffled arrival order: per-user running-max watermark, exact BIGINT microsecond arithmetic, allowed-lateness drop budget",
    )
)

register(
    QuerySpec(
        name="t144_peak_concurrency",
        builder=event_ops.peak_concurrency,
        oracle="""
            WITH ev AS (
                SELECT user_id, epoch_us(ts) AS t FROM events
            ),
            deltas AS (
                SELECT user_id, t, 1 AS delta FROM ev
                UNION ALL
                SELECT user_id, t + 300000000, -1 FROM ev
            ),
            swept AS (
                SELECT user_id, t,
                       sum(delta) OVER (PARTITION BY user_id
                                        ORDER BY t, delta
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW) AS open_now,
                       sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id) AS n_events
                FROM deltas
            ),
            peaked AS (
                SELECT *, max(open_now) OVER (PARTITION BY user_id) AS peak
                FROM swept
            )
            SELECT user_id,
                   CAST(max(n_events) AS BIGINT) AS n_events,
                   CAST(max(peak) AS BIGINT) AS peak_concurrency,
                   strftime(make_timestamp(min(t)), '%Y-%m-%d %H:%M:%S')
                       AS peak_at
            FROM peaked
            WHERE open_now = peak
            GROUP BY user_id
            ORDER BY user_id
        """,
        doc="interval sweep-line: per-user max simultaneously-open 5-min intervals and first peak instant; closes sort before opens at equal instants (half-open semantics), exact BIGINT time arithmetic",
    )
)

register(
    QuerySpec(
        name="t146_per_source_sample",
        builder=sample_ops.per_source_sample,
        oracle="""
            SELECT source, CAST(pick AS INTEGER) AS pick, doc_id
            FROM (
                SELECT source, doc_id,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS pick
                FROM documents
            )
            WHERE pick <= 5
            ORDER BY source, pick
        """,
        doc="deterministic per-stratum reservoir: k docs per source ranked by md5(doc_id); WindowGroupLimit keeps a k-row heap per group instead of sorting",
    )
)

register(
    QuerySpec(
        name="t147_snapshot_diff",
        builder=rel_ops.snapshot_diff,
        oracle="""
            SELECT custkey, change, old_acctbal, new_acctbal FROM (
                SELECT CAST(c_custkey AS BIGINT) AS custkey,
                       'removed' AS change,
                       round(CAST(c_acctbal AS DOUBLE), 6) AS old_acctbal,
                       CAST(NULL AS DOUBLE) AS new_acctbal
                FROM customer WHERE c_custkey % 17 = 0
                UNION ALL
                SELECT CAST(c_custkey AS BIGINT), 'changed',
                       round(CAST(c_acctbal AS DOUBLE), 6),
                       round(CAST(c_acctbal + 100 AS DOUBLE), 6)
                FROM customer
                WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 0
                UNION ALL
                SELECT CAST(c_custkey + 1000000 AS BIGINT), 'added',
                       CAST(NULL AS DOUBLE), 0.0
                FROM customer WHERE c_custkey % 23 = 0
            )
            ORDER BY custkey, change
        """,
        doc="table-versioning diff between the pre- and post-merge customer snapshots: one full-outer join classifies added/removed/changed; oracle restates the diff in closed form from the t125 changeset rules",
    )
)

register(
    QuerySpec(
        name="t148_price_outliers",
        builder=rel_ops.price_outliers,
        oracle="""
            WITH p AS (
                SELECT p_brand, CAST(p_retailprice AS DOUBLE) AS price
                FROM part
            ),
            m AS (
                SELECT p_brand, price,
                       quantile_cont(price, 0.5)
                           OVER (PARTITION BY p_brand) AS med
                FROM p
            ),
            d AS (
                SELECT p_brand, price, med,
                       quantile_cont(abs(price - med), 0.5)
                           OVER (PARTITION BY p_brand) AS mad
                FROM m
            )
            SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
                   round(max(med), 6) AS median_price,
                   round(max(mad), 6) AS mad,
                   CAST(sum(CASE WHEN abs(price - med) > 3.0 * mad
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM d GROUP BY p_brand ORDER BY p_brand
        """,
        doc="robust outlier detection: per-brand median, MAD, and 3-MAD exceedance count; two windows share one brand exchange, linear-interpolated percentiles identical across engines",
    )
)

register(
    QuerySpec(
        name="t149_last_touch_attribution",
        builder=event_ops.last_touch_attribution,
        oracle="""
            WITH ev AS (
                SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                       CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_id
                FROM events
            ),
            lc AS (
                SELECT *,
                       max(CASE WHEN event_type = 'click' THEN ts_us END)
                           OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS last_click
                FROM ev
            )
            SELECT day,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(sum(CASE WHEN ts_us - coalesce(last_click,
                                     -4611686018427387904) <= 1800000000
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_attributed,
                   round(sum(CASE WHEN ts_us - coalesce(last_click,
                                     -4611686018427387904) <= 1800000000
                                 THEN 1 ELSE 0 END) / count(*), 6)
                       AS attach_rate
            FROM lc
            WHERE event_type = 'purchase'
            GROUP BY day ORDER BY day
        """,
        doc="last-touch attribution: purchases attach to the user's most recent strictly-prior click within 30 min via one running-max window — no events self-join; daily attach-rate report",
    )
)

register(
    QuerySpec(
        name="t150_heldout_lm_nll",
        builder=ts_ops.heldout_lm_nll,
        oracle="""
            WITH split AS (
                SELECT doc_id, source, text,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            25, 8)) AS BIGINT) % 100 AS bucket
                FROM documents
            ),
            bg AS (
                SELECT doc_id, source, bucket,
                       toks[i] AS w1, toks[i+1] AS w2
                FROM (
                    SELECT doc_id, source, bucket,
                           list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '') AS toks
                    FROM split
                ), (SELECT unnest(range(1, 100000)) AS i)
                WHERE i < len(toks)
            ),
            c12 AS (
                SELECT w1, w2, count(*) AS c12 FROM bg
                WHERE bucket < 80 GROUP BY w1, w2
            ),
            c1 AS (
                SELECT w1, count(*) AS c1 FROM bg
                WHERE bucket < 80 GROUP BY w1
            ),
            v AS (
                SELECT count(DISTINCT t) AS v
                FROM (
                    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t
                    FROM split WHERE bucket < 80
                )
                WHERE t <> ''
            ),
            per_doc AS (
                SELECT doc_id, source,
                       CAST(CAST(sum(CAST(
                           ln(CAST(coalesce(c1.c1, 0) + v AS DOUBLE))
                           - ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE))
                           AS DECIMAL(20,12))) AS DOUBLE) / count(*)
                           AS DECIMAL(20,12)) AS doc_nll
                FROM bg
                LEFT JOIN c12 USING (w1, w2)
                LEFT JOIN c1 USING (w1)
                CROSS JOIN v
                WHERE bucket >= 80 AND bucket < 90
                GROUP BY doc_id, source
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_val_docs,
                   round(CAST(sum(doc_nll) AS DOUBLE) / count(*), 6)
                       AS mean_nll
            FROM per_doc
            GROUP BY source
            ORDER BY source
        """,
        doc="decontaminated LM filter: add-one bigram LM trained on the md5 train split scores the val split by mean NLL per source — t67's count build plus train/test separation",
    )
)

register(
    QuerySpec(
        name="t151_source_coherence",
        builder=sim_ops.source_coherence,
        oracle="""
            WITH j AS (
                SELECT d.source, e.vec_id, e.embedding::DOUBLE[] AS emb
                FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
            ),
            expl AS (
                SELECT source, i AS dim, emb[i] AS x
                FROM j, UNNEST(range(1, len(emb) + 1)) AS t(i)
            ),
            cent AS (
                SELECT source, dim,
                       CAST(sum(CAST(x AS DECIMAL(20,12))) AS DOUBLE)
                           / count(*) AS m
                FROM expl GROUP BY source, dim
            ),
            carr AS (
                SELECT source, list(m ORDER BY dim) AS cvec
                FROM cent GROUP BY source
            ),
            cos AS (
                SELECT j.source, vec_id,
                       round(list_inner_product(emb, cvec)
                             / (sqrt(list_inner_product(emb, emb))
                                * sqrt(list_inner_product(cvec, cvec))),
                             6) AS c
                FROM j JOIN carr USING (source)
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(CAST(sum(CAST(c AS DECIMAL(20,12))) AS DOUBLE)
                         / count(*), 6) AS mean_cos,
                   round(min(c), 6) AS min_cos
            FROM cos GROUP BY source ORDER BY source
        """,
        doc="cross-table embedding QA: per-source centroid (exact-decimal means) broadcast back for a narrow cosine fold; per-source mean/min coherence before corpus mixing",
    )
)

register(
    QuerySpec(
        name="t152_column_profile",
        builder=scale_ops.column_profile,
        oracle="""
            WITH long AS (
                SELECT 'l_quantity' AS "column",
                       CAST(l_quantity AS DOUBLE) AS value FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
                FROM lineitem
                UNION ALL
                SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
                UNION ALL
                SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
            )
            SELECT "column",
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(value) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
                   round(min(value), 6) AS min_val,
                   round(max(value), 6) AS max_val
            FROM long GROUP BY "column" ORDER BY "column"
        """,
        doc="ANALYZE-style numeric profile: one unpivoted scan feeds a single hash-agg computing rows/nulls/distincts/min/max for every measure column at once",
    )
)

_CORR_SUMS = """
                SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s_q,
                       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                                * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS ss_q,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s_e,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ss_e,
                       CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s_d,
                       CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                                * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS ss_d,
                       CAST(sum(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS s_t,
                       CAST(sum(CAST(l_tax AS DECIMAL(12,2))
                                * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS ss_t,
                       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                                * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp_q_e,
                       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                                * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sp_q_d,
                       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                                * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sp_q_t,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sp_e_d,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sp_e_t,
                       CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                                * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sp_d_t
                FROM lineitem
"""

_CORR_ROW = (
    "SELECT '{ca}' AS col_a, '{cb}' AS col_b, "
    "round((n * {sp} - {sa} * {sb}) / "
    "sqrt((n * {ssa} - {sa} * {sa}) * (n * {ssb} - {sb} * {sb})), 6) "
    "AS pearson_r FROM m"
)

register(
    QuerySpec(
        name="t153_numeric_correlations",
        builder=scale_ops.numeric_correlations,
        oracle="WITH m AS (" + _CORR_SUMS + ") SELECT col_a, col_b, pearson_r FROM ("
        + " UNION ALL ".join(
            _CORR_ROW.format(ca=ca, cb=cb, sp=sp, sa=sa, sb=sb, ssa=ssa, ssb=ssb)
            for ca, cb, sp, sa, sb, ssa, ssb in [
                ("l_quantity", "l_extendedprice", "sp_q_e", "s_q", "s_e", "ss_q", "ss_e"),
                ("l_quantity", "l_discount", "sp_q_d", "s_q", "s_d", "ss_q", "ss_d"),
                ("l_quantity", "l_tax", "sp_q_t", "s_q", "s_t", "ss_q", "ss_t"),
                ("l_extendedprice", "l_discount", "sp_e_d", "s_e", "s_d", "ss_e", "ss_d"),
                ("l_extendedprice", "l_tax", "sp_e_t", "s_e", "s_t", "ss_e", "ss_t"),
                ("l_discount", "l_tax", "sp_d_t", "s_d", "s_t", "ss_d", "ss_t"),
            ]
        )
        + ") ORDER BY col_a, col_b",
        doc="exact Pearson correlation matrix from one pass of exact-decimal moment sums (corr()'s double accumulation would be partitioning-dependent); closed form evaluated in a fixed IEEE order",
    )
)

register(
    QuerySpec(
        name="t154_hourly_anomalies",
        builder=event_ops.hourly_anomalies,
        oracle="""
            WITH hourly AS (
                SELECT event_type,
                       strftime(date_trunc('hour', ts),
                                '%Y-%m-%d %H:%M:%S') AS hour,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1, 2
            ),
            m AS (
                SELECT event_type,
                       CAST(count(*) AS DOUBLE) AS n_hours,
                       CAST(sum(CAST(n_events AS DECIMAL(20,0))) AS DOUBLE)
                           AS sc,
                       CAST(sum(CAST(n_events * n_events AS DECIMAL(20,0)))
                            AS DOUBLE) AS scc
                FROM hourly GROUP BY 1
            )
            SELECT event_type, hour, n_events,
                   round(sc / n_hours, 6) AS mean_hourly,
                   round((n_events - sc / n_hours)
                         / sqrt(scc / n_hours
                                - (sc / n_hours) * (sc / n_hours)), 6)
                       AS z_score
            FROM hourly JOIN m USING (event_type)
            WHERE abs((n_events - sc / n_hours)
                      / sqrt(scc / n_hours
                             - (sc / n_hours) * (sc / n_hours))) > 2.0
            ORDER BY event_type, hour
        """,
        doc="volume anomaly alerting: hourly counts per type flagged beyond 2 population std-devs of the type's own hourly mean; exact integer moments, broadcast moment join",
    )
)

register(
    QuerySpec(
        name="t156_image_resize_checksum",
        builder=mm_ops.image_resize_checksum,
        oracle="""
            SELECT doc_id,
                   CAST(4 AS INTEGER) AS width,
                   CAST(3 AS INTEGER) AS height,
                   CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 3 ELSE 1 END
                        AS INTEGER) AS channels,
                   CAST(sum(
                       (((((y * (3 + doc_id % 7)) // 3) * (4 + doc_id % 13)
                          + ((x * (4 + doc_id % 13)) // 4))
                         * (CASE WHEN doc_id % 4 IN (1, 2) THEN 3 ELSE 1 END)
                         + c) * 31 + doc_id * 7) % 256
                   ) AS BIGINT) AS pixel_sum,
                   CAST(count(*) AS BIGINT) AS n_pixels
            FROM documents,
                 UNNEST(range(3)) AS ty(y),
                 UNNEST(range(4)) AS tx(x),
                 UNNEST(range(CASE WHEN doc_id % 4 IN (1, 2) THEN 3 ELSE 1 END))
                     AS tc(c)
            GROUP BY doc_id
            ORDER BY doc_id
        """,
        doc="native media pipeline end-to-end: encode (PNG/PPM) -> pixel decode -> nearest-neighbor resize -> checksum in one Arrow pass; oracle restates every resized pixel in closed form from doc_id",
    )
)

register(
    QuerySpec(
        name="t157_stream_hourly_anomalies",
        builder=stream_jobs.stream_hourly_anomalies,
        oracle=REGISTRY["t154_hourly_anomalies"].oracle,
        doc="streaming twin of t154: micro-batched events merge into a per-(type,hour) count store via foreachBatch (sums are replay-safe), z-scores derived from merged state at drain — must hash-equal the batch anomaly report",
    )
)

register(
    QuerySpec(
        name="t158_cluster_source_chi2",
        builder=sim_ops.cluster_source_chi2,
        oracle=f"""
            WITH cents AS (
                SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cvec
                FROM embeddings ORDER BY vec_id LIMIT 8
            ),
            scored AS (
                SELECT e.vec_id, c.cell_id,
                       {_COS.format(a="e.embedding::DOUBLE[]", b="c.cvec")}
                           AS cell_cos
                FROM embeddings e CROSS JOIN cents c
            ),
            assigned AS (
                SELECT vec_id, cell_id FROM (
                    SELECT vec_id, cell_id,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY cell_cos DESC,
                                                       cell_id ASC) AS rn
                    FROM scored
                ) WHERE rn = 1
            ),
            cont AS (
                SELECT a.cell_id, d.source,
                       CAST(count(*) AS DOUBLE) AS o
                FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
                GROUP BY a.cell_id, d.source
            ),
            rows_t AS (SELECT cell_id, sum(o) AS rt FROM cont GROUP BY cell_id),
            cols_t AS (SELECT source, sum(o) AS ct FROM cont GROUP BY source),
            tot AS (SELECT sum(o) AS n FROM cont),
            grid AS (
                SELECT r.cell_id, c.source, rt, ct, n,
                       coalesce(o, 0.0) AS o,
                       (rt * ct) / n AS e
                FROM rows_t r CROSS JOIN cols_t c CROSS JOIN tot
                LEFT JOIN cont USING (cell_id, source)
            )
            SELECT CAST(count(DISTINCT cell_id) AS BIGINT) AS n_cells,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(max(n) AS BIGINT) AS n_docs,
                   round(CAST(sum(CAST(((o - e) * (o - e)) / e
                                       AS DECIMAL(20,12))) AS DOUBLE), 6)
                       AS chi2,
                   CAST((count(DISTINCT cell_id) - 1)
                        * (count(DISTINCT source) - 1) AS BIGINT) AS dof
            FROM grid
        """,
        doc="cluster-vs-source independence: chi-square over the IVF-cell x source contingency grid (empty combos included), IVF seed assignment re-derived by the oracle, terms quantized before the sum",
    )
)

register(
    QuerySpec(
        name="t159_contrastive_pairs",
        builder=sample_ops.contrastive_pairs,
        oracle="""
            WITH ranked AS (
                SELECT doc_id, source,
                       row_number() OVER (
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) - 1 AS r
                FROM documents
            ),
            n AS (SELECT count(*) AS n FROM ranked),
            anchors AS (
                SELECT doc_id, source, (r + j * 97) % n AS neg_r, j
                FROM ranked CROSS JOIN n,
                     UNNEST(range(1, 4)) AS tj(j)
            )
            SELECT a.doc_id AS anchor_id,
                   CAST(a.j AS INTEGER) AS j,
                   b.doc_id AS negative_id,
                   a.source <> b.source AS cross_source
            FROM anchors a JOIN ranked b ON b.r = a.neg_r
            ORDER BY anchor_id, j
        """,
        doc="deterministic negative sampling on an md5 ring: 3 negatives per anchor at fixed strides, cross-source flag for hard/easy splits; metadata-sized ranking, equi-join on rank",
    )
)

register(
    QuerySpec(
        name="t160_shard_planner",
        builder=sample_ops.shard_planner,
        oracle="""
            WITH planned AS (
                SELECT doc_id, n_chars,
                       CAST(floor(coalesce(sum(n_chars) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) / 30000)
                            AS BIGINT) AS shard
                FROM documents
            )
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(min(doc_id) AS BIGINT) AS first_doc,
                   CAST(max(doc_id) AS BIGINT) AS last_doc
            FROM planned GROUP BY shard ORDER BY shard
        """,
        doc="equal-byte corpus sharding plan: first-fit prefix-sum assignment over doc metadata (exact integer arithmetic); the plan the exporter pushes into its body-moving write",
    )
)

def _pagerank_oracle(iters: int = 20) -> str:
    """Unrolled power-iteration SQL mirroring event_type_pagerank exactly:
    same edge weights (one IEEE division of exact longs), same
    decimal(20,12) quantization of each rank·w contribution, same
    damping expression order — so 20 chained iterations stay
    bit-identical across engines."""
    head = """
        WITH ev AS MATERIALIZED (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
            FROM events
        ),
        pairs AS MATERIALIZED (
            SELECT src, dst, count(*) AS c FROM (
                SELECT event_type AS src,
                       lead(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts_us, event_id) AS dst
                FROM ev
            ) WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        tot AS (SELECT src, sum(c) AS tot FROM pairs GROUP BY src),
        edges AS MATERIALIZED (
            SELECT src, dst, CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS w
            FROM pairs JOIN tot USING (src)
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)
    """
    steps = "".join(
        f""",
        r{i} AS MATERIALIZED (
            SELECT e.dst AS node,
                   (1.0 - 0.85) / n + 0.85 * CAST(sum(
                       CAST(r.rank * e.w AS DECIMAL(20,12))) AS DOUBLE) AS rank
            FROM edges e JOIN r{i - 1} r ON r.node = e.src CROSS JOIN nn
            GROUP BY e.dst, n
        )"""
        for i in range(1, iters + 1)
    )
    return (
        head
        + steps
        + f" SELECT node, round(rank, 6) AS rank FROM r{iters} ORDER BY node"
    )


register(
    QuerySpec(
        name="t161_event_pagerank",
        builder=event_ops.event_type_pagerank,
        oracle=_pagerank_oracle(20),
        doc="iterative dataflow with a bit-exact oracle: PageRank over the event-type transition graph, 20 power iterations at damping 0.85, SQL side unrolled iteration-for-iteration with identical quantized arithmetic",
    )
)

register(
    QuerySpec(
        name="t162_conversion_latency",
        builder=event_ops.conversion_latency,
        oracle="""
            WITH ev AS (
                SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
            ),
            wv AS (
                SELECT *,
                       min(CASE WHEN event_type = 'view' THEN ts_us END)
                           OVER (PARTITION BY user_id) AS v
                FROM ev
            ),
            conv AS (
                SELECT user_id, v, min(ts_us) - v AS lat_us
                FROM wv
                WHERE event_type = 'purchase' AND ts_us > v
                GROUP BY user_id, v
            )
            SELECT CAST(count(*) AS BIGINT) AS n_converted,
                   round(quantile_cont(lat_us, 0.5) / 1000000.0, 6) AS p50_sec,
                   round(quantile_cont(lat_us, 0.9) / 1000000.0, 6) AS p90_sec
            FROM conv
        """,
        doc="time-to-convert distribution: first-view to first-subsequent-purchase latency per user, exact interpolated p50/p90 seconds; one window pass, percentiles over user-grain rows",
    )
)

register(
    QuerySpec(
        name="t163_rare_token_docs",
        builder=ts_ops.rare_token_docs,
        oracle="""
            WITH """ + _TOKENS_CTE + """,
            occ AS (
                SELECT doc_id, unnest(tokens) AS token FROM toks
            ),
            rare AS (
                SELECT token FROM (
                    SELECT token, count(*) AS freq FROM occ GROUP BY token
                ) ORDER BY freq ASC, token ASC LIMIT 5
            )
            SELECT doc_id,
                   CAST(count(DISTINCT token) AS BIGINT) AS n_rare_tokens,
                   min(token) AS example_token
            FROM occ JOIN rare USING (token)
            GROUP BY doc_id ORDER BY doc_id
        """,
        doc="OOV/mojibake screen, corpus-relative: docs containing any of the 5 rarest tokens (deterministic freq-asc cut) — non-vacuous on any corpus, unlike an absolute frequency rule",
    )
)

register(
    QuerySpec(
        name="t164_approx_distinct_invariants",
        builder=text_ops.approx_distinct_invariants,
        oracle="""
            SELECT CAST(0 AS BIGINT) AS bound_violations,
                   CAST(count(DISTINCT token) AS BIGINT) AS exact_n_tokens,
                   CAST(1 AS BIGINT) AS found_nonempty
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            )
            WHERE token <> ''
        """,
        doc="error-bound oracle for t39's HLL++ sketch: estimate within 3 rsd of the exact distinct count, which the SQL side re-derives independently",
    )
)

register(
    QuerySpec(
        name="t165_ivf_topk_invariants",
        builder=sim_ops.ivf_topk_invariants,
        oracle="""
            SELECT CAST(0 AS BIGINT) AS bad_cosines,
                   CAST(0 AS BIGINT) AS rank_violations,
                   CAST(0 AS BIGINT) AS beats_exact,
                   CAST(1 AS BIGINT) AS found_nonempty
        """,
        doc="invariant oracle for t25 IVF top-k: cosines re-verified by an independent numpy kernel, rank sequence laws, never beats exact brute force",
    )
)

register(
    QuerySpec(
        name="t166_curated_corpus",
        builder=ts_ops.curated_corpus,
        oracle="""
            WITH base AS (
                SELECT doc_id, source, lang, n_chars AS meta_chars, text,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CAST(length(text) -
                            length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                            AS BIGINT) AS n_punct,
                       md5(lower(trim(text))) AS fingerprint
                FROM documents
            ),
            scored AS (
                SELECT doc_id, source, lang, meta_chars,
                       round(CAST(
                           (CASE WHEN len(tokens) BETWEEN 5 AND 100000
                                 THEN 0.4 ELSE 0.0 END)
                           + (CASE WHEN (CASE WHEN n_chars > 0
                                         THEN n_punct / CAST(n_chars AS DOUBLE)
                                         ELSE 0.0 END) < 0.2
                              THEN 0.3 ELSE 0.0 END)
                           + (CASE WHEN (CASE WHEN len(tokens) > 0
                                         THEN len(list_filter(tokens,
                                              t -> list_contains(
                                                  ['the','a','of','and',
                                                   'der','el','la'], t)))
                                              / CAST(len(tokens) AS DOUBLE)
                                         ELSE 0.0 END) > 0.01
                              THEN 0.3 ELSE 0.0 END) AS DOUBLE), 6)
                           AS quality,
                       doc_id = min(doc_id) OVER (PARTITION BY fingerprint)
                           AS keep_dedup
                FROM base
            )
            SELECT doc_id, source, lang,
                   CAST(meta_chars AS BIGINT) AS n_chars
            FROM scored
            WHERE lang IN ('en', 'de', 'es') AND quality >= 0.65 AND keep_dedup
            ORDER BY doc_id
        """,
        doc="the curation pipeline's output table (t136 reports the funnel, this emits the kept docs): language keep-list, quality composite, exact-dedup winner — what cli.py curate writes",
    )
)

register(
    QuerySpec(
        name="t167_weighted_median_price",
        builder=rel_ops.weighted_median_price,
        oracle="""
            WITH cum AS (
                SELECT p_brand, p_retailprice,
                       sum(p_size) OVER (PARTITION BY p_brand
                                         ORDER BY p_retailprice
                                         ROWS UNBOUNDED PRECEDING) AS cumw,
                       sum(p_size) OVER (PARTITION BY p_brand) AS total
                FROM part
            ),
            med AS (
                SELECT p_brand, min(p_retailprice) AS wm
                FROM cum WHERE 2 * cumw >= total GROUP BY p_brand
            ),
            counts AS (
                SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
                FROM part GROUP BY p_brand
            )
            SELECT p_brand, n_parts,
                   round(CAST(wm AS DOUBLE), 6) AS weighted_median_price
            FROM counts JOIN med USING (p_brand)
            ORDER BY p_brand
        """,
        doc="GROUPED_AGG pandas UDF (the last unexercised Arrow UDF variant): per-brand size-weighted lower median, integer-exact threshold (2*cum >= total), cumulative-window oracle",
    )
)

register(
    QuerySpec(
        name="t168_cep_pattern_counts",
        builder=event_ops.cep_pattern_counts,
        oracle="""
            WITH ev AS (
                SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                       CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_id
                FROM events
            ),
            marked AS (
                SELECT *,
                       max(CASE WHEN event_type = 'view' THEN ts_us END)
                           OVER w AS last_view,
                       max(CASE WHEN event_type = 'error' THEN ts_us END)
                           OVER w AS last_error
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING)
            )
            SELECT day,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(sum(CASE WHEN
                       ts_us - coalesce(last_view, -4611686018427387904)
                           <= 1800000000
                       AND coalesce(last_view, -4611686018427387904)
                           > coalesce(last_error, -4611686018427387904)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_conversions
            FROM marked
            WHERE event_type = 'purchase'
            GROUP BY day ORDER BY day
        """,
        doc="CEP pattern match (view then purchase within 30 min, no error between) as two running-max windows — MATCH_RECOGNIZE semantics compiled to one shuffle, no self-join",
    )
)

register(
    QuerySpec(
        name="t169_stream_pricing_summary",
        builder=stream_jobs.stream_pricing_summary,
        oracle=REGISTRY["t08_pricing_summary"].oracle,
        doc="incremental view maintenance of TPC-H Q1: micro-batched lineitem merges exact-decimal partial sums per group via foreachBatch; averages derive from merged state at drain — must hash-equal batch t08",
    )
)

register(
    QuerySpec(
        name="t170_ensemble_dup_pairs",
        builder=dedup_ops.ensemble_dup_pairs,
        oracle=(
            "WITH jacc AS ("
            + REGISTRY["t21_ngram_jaccard_pairs"].oracle
            + "), sim AS ("
            + REGISTRY["t77_simhash_near_dup"].oracle
            + """)
            SELECT doc_a, doc_b, jaccard, hamming
            FROM jacc JOIN sim USING (doc_a, doc_b)
            ORDER BY doc_a, doc_b
            """
        ),
        doc="ensemble near-dup: the intersection of the exact-Jaccard (t21) and SimHash-band (t77) detectors — the delete-without-review set; oracle composes both detectors' SQL verbatim",
    )
)

register(
    QuerySpec(
        name="t171_referential_integrity_audit",
        builder=rel_ops.referential_integrity_audit,
        oracle="""
            SELECT 'childless_orders' AS "check",
                   CAST((SELECT count(*) FROM orders o
                         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                           WHERE l.l_orderkey = o.o_orderkey))
                        AS BIGINT) AS n_violations
            UNION ALL
            SELECT 'duplicate_lineitem_keys',
                   CAST((SELECT count(*) FROM (
                             SELECT 1 FROM lineitem
                             GROUP BY l_orderkey, l_linenumber
                             HAVING count(*) > 1)) AS BIGINT)
            UNION ALL
            SELECT 'duplicate_order_keys',
                   CAST((SELECT count(*) FROM (
                             SELECT 1 FROM orders
                             GROUP BY o_orderkey HAVING count(*) > 1))
                        AS BIGINT)
            UNION ALL
            SELECT 'orphan_lineitems',
                   CAST((SELECT count(*) FROM lineitem l
                         WHERE NOT EXISTS (SELECT 1 FROM orders o
                                           WHERE o.o_orderkey = l.l_orderkey))
                        AS BIGINT)
            UNION ALL
            SELECT 'orphan_orders',
                   CAST((SELECT count(*) FROM orders o
                         WHERE NOT EXISTS (SELECT 1 FROM customer c
                                           WHERE c.c_custkey = o.o_custkey))
                        AS BIGINT)
            ORDER BY "check"
        """,
        doc="warehouse constraint audit: orphaned facts, childless orders, duplicate keys — anti-joins and keyed count>1 checks emitted long-form",
    )
)

register(
    QuerySpec(
        name="t172_linear_attribution",
        builder=event_ops.linear_attribution,
        oracle="""
            WITH ev AS (
                SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                       CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_id
                FROM events
            ),
            matched AS (
                SELECT p.event_id, c.day AS click_day
                FROM (SELECT user_id, event_id, ts_us FROM ev
                      WHERE event_type = 'purchase') p
                JOIN (SELECT user_id, ts_us AS click_ts, day FROM ev
                      WHERE event_type = 'click') c
                  ON p.user_id = c.user_id
                 AND c.click_ts < p.ts_us
                 AND p.ts_us - c.click_ts <= 1800000000
            ),
            credited AS (
                SELECT click_day,
                       CAST(1.0 / CAST(count(*) OVER (PARTITION BY event_id)
                                       AS DOUBLE) AS DECIMAL(20,12)) AS credit
                FROM matched
            )
            SELECT click_day AS day,
                   CAST(count(*) AS BIGINT) AS n_touchpoints,
                   round(CAST(sum(credit) AS DOUBLE), 6) AS total_credit
            FROM credited
            GROUP BY click_day ORDER BY day
        """,
        doc="multi-touch linear attribution: each purchase's credit splits 1/n across its prior-30-min clicks and accrues to the CLICK's day; user-keyed band join, 1/n quantized before the exact sum",
    )
)

register(
    QuerySpec(
        name="t173_rolling_window_dedup",
        builder=dedup_ops.rolling_window_dedup,
        oracle="""
            SELECT week, fingerprint,
                   CAST(min(doc_id) AS BIGINT) AS kept_doc,
                   CAST(count(*) AS BIGINT) AS n_in_window
            FROM (
                SELECT doc_id // 100 AS week,
                       md5(lower(trim(text))) AS fingerprint,
                       doc_id
                FROM documents
            )
            GROUP BY week, fingerprint
            ORDER BY week, kept_doc
        """,
        doc="time-windowed dedup: first occurrence per (week-bucket, fingerprint) — recency-scoped dedup whose state is bounded by the window, not corpus lifetime",
    )
)

register(
    QuerySpec(
        name="t174_props_struct_stats",
        builder=event_ops.props_struct_stats,
        oracle="""
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(k) AS BIGINT) AS n_parsed_k,
                   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_malformed,
                   CAST(sum(k) AS BIGINT) AS sum_k
            FROM (
                SELECT event_type, props,
                       CAST(json_extract(props, '$.k') AS BIGINT) AS k
                FROM events
            )
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="schema-first JSON: from_json with an explicit struct schema (one parse per row, malformed rows become NULL structs) vs per-field get_json_object extraction",
    )
)

register(
    QuerySpec(
        name="t175_transition_matrix",
        builder=event_ops.transition_matrix,
        oracle="""
            WITH pairs AS (
                SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
                FROM (
                    SELECT event_type AS src,
                           lead(event_type) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS dst
                    FROM events
                ) WHERE dst IS NOT NULL GROUP BY src, dst
            )
            SELECT src, dst, n_transitions,
                   round(CAST(n_transitions AS DOUBLE)
                         / CAST(sum(n_transitions) OVER (PARTITION BY src)
                                AS DOUBLE), 6) AS p_next
            FROM pairs ORDER BY src, dst
        """,
        doc="user-journey Markov table: empirical P(next|current) from consecutive event pairs — the edge table t161 iterates, as the analytics deliverable",
    )
)

register(
    QuerySpec(
        name="t176_price_bins_equidepth",
        builder=rel_ops.price_bins_equidepth,
        oracle="""
            SELECT CAST(bin AS INTEGER) AS bin,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(min(price), 6) AS bin_min,
                   round(max(price), 6) AS bin_max
            FROM (
                SELECT CAST(l_extendedprice AS DOUBLE) AS price,
                       ntile(10) OVER (ORDER BY CAST(l_extendedprice AS DOUBLE),
                                       l_orderkey, l_linenumber) AS bin
                FROM lineitem
            )
            GROUP BY bin ORDER BY bin
        """,
        doc="equi-depth feature-binning boundaries: NTILE(10) with a total tiebreak; range-partitioned distributed sort, persisted so training and serving bin identically",
    )
)

register(
    QuerySpec(
        name="t177_largest_remainder_allocation",
        builder=rel_ops.largest_remainder_allocation,
        oracle="""
            WITH counts AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source
            ),
            total AS (SELECT sum(n_docs) AS n_total FROM counts),
            base AS (
                SELECT source, n_docs,
                       (n_docs * 1000) // n_total AS floor_seats,
                       (n_docs * 1000) % n_total AS remainder
                FROM counts CROSS JOIN total
            ),
            ranked AS (
                SELECT *,
                       1000 - sum(floor_seats) OVER () AS leftover,
                       row_number() OVER (ORDER BY remainder DESC, source)
                           AS rr
                FROM base
            )
            SELECT source, n_docs,
                   CAST(floor_seats + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS allocated
            FROM ranked ORDER BY source
        """,
        doc="fair quota allocation (Hare largest-remainder): split a 1000-doc budget across sources exactly, integer arithmetic only — how each source's share of a fixed-size eval set is decided",
    )
)

register(
    QuerySpec(
        name="t178_weekday_revenue_profile",
        builder=rel_ops.weekday_revenue_profile,
        oracle="""
            WITH per_dow AS (
                SELECT CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
                FROM orders GROUP BY 1
            ),
            total AS (SELECT sum(rev_dec) AS total_dec FROM per_dow)
            SELECT dow, n_orders,
                   round(CAST(rev_dec AS DOUBLE), 6) AS revenue,
                   round(CAST(rev_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6)
                       AS revenue_share
            FROM per_dow CROSS JOIN total
            ORDER BY dow
        """,
        doc="day-of-week seasonality profile with exact-decimal revenue shares; day numbering pinned to Spark's dayofweek (1=Sunday), oracle shifted to match",
    )
)

register(
    QuerySpec(
        name="t179_edit_distance_pairs",
        builder=dedup_ops.edit_distance_pairs,
        oracle=(
            "WITH sim AS ("
            + REGISTRY["t77_simhash_near_dup"].oracle
            + """)
            SELECT doc_a, doc_b,
                   CAST(levenshtein(ta.text, tb.text) AS BIGINT)
                       AS edit_distance,
                   round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                         / CAST(greatest(length(ta.text), length(tb.text))
                                AS DOUBLE), 6) AS edit_sim
            FROM sim
            JOIN documents ta ON ta.doc_id = doc_a
            JOIN documents tb ON tb.doc_id = doc_b
            WHERE round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                        / CAST(greatest(length(ta.text), length(tb.text))
                               AS DOUBLE), 6) >= 0.8
            ORDER BY doc_a, doc_b
            """
        ),
        doc="character-level near-dup verify: normalized Levenshtein on SimHash band candidates only (integer DP identical across engines); both sides threshold the identically-rounded similarity",
    )
)

register(
    QuerySpec(
        name="t180_discount_sensitivity",
        builder=rel_ops.discount_sensitivity,
        oracle="""
            WITH m AS (
                SELECT p_brand,
                       CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sx,
                       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sy,
                       CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                                * CAST(l_quantity AS DECIMAL(12,2)))
                            AS DOUBLE) AS sxy,
                       CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                                * CAST(l_discount AS DECIMAL(12,2)))
                            AS DOUBLE) AS sxx
                FROM lineitem JOIN part ON p_partkey = l_partkey
                GROUP BY p_brand
            )
            SELECT p_brand,
                   CAST(n AS BIGINT) AS n_rows,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                       AS slope,
                   round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                         / n, 6) AS intercept
            FROM m ORDER BY p_brand
        """,
        doc="grouped OLS per brand (quantity on discount) from exact-decimal moment sums; regr_slope's running doubles would be partitioning-dependent",
    )
)

register(
    QuerySpec(
        name="t181_char_entropy",
        builder=ts_ops.char_entropy,
        oracle="""
            WITH counts AS (
                SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                FROM (
                    SELECT doc_id, unnest(string_split(text, '')) AS ch
                    FROM documents
                ) WHERE ch <> ''
                GROUP BY doc_id, ch
            ),
            terms AS (
                SELECT doc_id,
                       sum(c) OVER (PARTITION BY doc_id) AS n,
                       CAST(-(CAST(c AS DOUBLE) / CAST(
                                 sum(c) OVER (PARTITION BY doc_id) AS DOUBLE))
                             * ln(CAST(c AS DOUBLE) / CAST(
                                 sum(c) OVER (PARTITION BY doc_id) AS DOUBLE))
                            AS DECIMAL(20,12)) AS term
                FROM counts
            )
            SELECT doc_id,
                   CAST(max(n) AS BIGINT) AS n_chars,
                   round(CAST(sum(term) AS DOUBLE), 6) AS entropy
            FROM terms GROUP BY doc_id ORDER BY doc_id
        """,
        doc="per-doc character Shannon entropy (the compression-style curation signal): each -(p)ln(p) term a fixed IEEE expression of exact counts, quantized before the sum",
    )
)

register(
    QuerySpec(
        name="t182_token_burstiness",
        builder=ts_ops.token_burstiness,
        oracle="""
            WITH per_doc AS (
                SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
                FROM (
                    SELECT doc_id,
                           unnest(list_filter(
                               string_split_regex(lower(text), '\\s+'),
                               t -> t <> '')) AS token
                    FROM documents
                )
                GROUP BY doc_id, token
            ),
            top AS (
                SELECT token FROM (
                    SELECT token, sum(c) AS freq FROM per_doc GROUP BY token
                ) ORDER BY freq DESC, token LIMIT 20
            ),
            nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
            m AS (
                SELECT token,
                       CAST(sum(CAST(c AS DECIMAL(20,0))) AS DOUBLE) AS sc,
                       CAST(sum(CAST(c * c AS DECIMAL(20,0))) AS DOUBLE) AS scc
                FROM per_doc JOIN top USING (token)
                GROUP BY token
            )
            SELECT token,
                   CAST(sc AS BIGINT) AS total_count,
                   round(sc / n_docs, 6) AS mean_per_doc,
                   round((scc / n_docs - (sc / n_docs) * (sc / n_docs))
                         / (sc / n_docs), 6) AS burstiness
            FROM m CROSS JOIN nd
            ORDER BY token
        """,
        doc="Fano factor (variance/mean of per-doc counts) for the top-20 corpus tokens: bursty content words vs Poisson-like function words; exact integer moments with zeros handled analytically",
    )
)

register(
    QuerySpec(
        name="t183_interarrival_percentiles",
        builder=event_ops.interarrival_percentiles,
        oracle="""
            WITH gaps AS (
                SELECT event_type,
                       ts_us - lag(ts_us) OVER (PARTITION BY event_type
                                                ORDER BY ts_us, event_id)
                           AS gap_us
                FROM (SELECT event_type, epoch_us(ts) AS ts_us, event_id
                      FROM events)
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_gaps,
                   round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_sec,
                   round(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_sec,
                   round(quantile_cont(gap_us, 0.99) / 1000000.0, 6) AS p99_sec
            FROM gaps WHERE gap_us IS NOT NULL
            GROUP BY event_type ORDER BY event_type
        """,
        doc="arrival-process characterization per type: exact interpolated p50/p90/p99 inter-arrival gaps — the numbers that size watermarks and debounce budgets",
    )
)

register(
    QuerySpec(
        name="t184_recursive_hierarchy_rollup",
        builder=rel_ops.recursive_hierarchy_rollup,
        oracle=rel_ops.RECURSIVE_ROLLUP_SQL,
        doc="Spark 4 WITH RECURSIVE: transitive closure of the level-tagged containment DAG, revenue rolled to every ancestor; the oracle IS the same SQL text verbatim (common-dialect recursion)",
    )
)

register(
    QuerySpec(
        name="t185_header_dims",
        builder=mm_ops.header_dims,
        oracle="""
            SELECT doc_id,
                   CAST(16 + doc_id % 31 AS INTEGER) AS width,
                   CAST(9 + doc_id % 17 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS channels,
                   CASE WHEN doc_id % 2 = 0 THEN 'gif' ELSE 'jpeg' END
                       AS format
            FROM documents
            ORDER BY doc_id
        """,
        doc="header-only decode for the compressed families: deterministic minimal GIF/JPEG byte strings parsed by the native header kernels; dims closed-form in doc_id (completes codec evidence across PNG/PNM/GIF/JPEG)",
    )
)

register(
    QuerySpec(
        name="t186_vocab_mass_cut",
        builder=ts_ops.vocab_mass_cut,
        oracle="""
            WITH counts AS (
                SELECT token, CAST(count(*) AS BIGINT) AS freq
                FROM (
                    SELECT unnest(list_filter(
                        string_split_regex(lower(text), '\\s+'),
                        t -> t <> '')) AS token
                    FROM documents
                )
                GROUP BY token
            ),
            ranked AS (
                SELECT token, freq,
                       row_number() OVER w AS rank,
                       sum(freq) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS cum_before,
                       sum(freq) OVER () AS total
                FROM counts
                WINDOW w AS (ORDER BY freq DESC, token ASC)
            )
            SELECT CAST(rank AS INTEGER) AS rank, token, freq,
                   round(CAST(coalesce(cum_before, 0) + freq AS DOUBLE)
                         / CAST(total AS DOUBLE), 6) AS cum_share
            FROM ranked
            WHERE coalesce(cum_before, 0) * 100 < 95 * total
            ORDER BY rank
        """,
        doc="vocabulary truncation at 95% cumulative mass: integer cross-multiplied cut over the vocab-sized frequency table; the tail becomes <unk>",
    )
)

register(
    QuerySpec(
        name="t187_winsorized_price_stats",
        builder=rel_ops.winsorized_price_stats,
        oracle="""
            WITH bounded AS (
                SELECT p_brand,
                       CAST(p_retailprice AS DOUBLE) AS price,
                       quantile_cont(CAST(p_retailprice AS DOUBLE), 0.01)
                           OVER (PARTITION BY p_brand) AS lo,
                       quantile_cont(CAST(p_retailprice AS DOUBLE), 0.99)
                           OVER (PARTITION BY p_brand) AS hi
                FROM part
            ),
            clipped AS (
                SELECT p_brand,
                       least(greatest(price, lo), hi) AS w_price
                FROM bounded
            )
            SELECT p_brand,
                   CAST(count(*) AS BIGINT) AS n_parts,
                   round(min(w_price), 6) AS w_min,
                   round(max(w_price), 6) AS w_max,
                   round(CAST(sum(CAST(round(w_price, 6) AS DECIMAL(20,12)))
                              AS DOUBLE) / count(*), 6) AS w_mean
            FROM clipped GROUP BY p_brand ORDER BY p_brand
        """,
        doc="winsorized per-brand moments: clip to exact [p01, p99] then robust mean/min/max; two percentile windows share one exchange, clipped values quantized before the mean",
    )
)

register(
    QuerySpec(
        name="t188_shared_dialect_stats",
        builder=rel_ops.shared_dialect_stats,
        oracle=rel_ops.SHARED_DIALECT_SQL,
        doc="modern-SQL parity verbatim: GROUP BY ALL + aggregate FILTER + decimal sums + rank window in one statement that is simultaneously the Spark query and the DuckDB oracle",
    )
)

def _pca_oracle(iters: int = 20) -> str:
    """Unrolled power-iteration SQL mirroring top_principal_component:
    same covariance closed form (quantized outer products, exact means),
    same quantized matvec terms, same sqrt/divide normalization chain —
    every CTE materialized so DuckDB doesn't re-inline the covariance
    build per iteration."""
    head = """
        WITH expl AS MATERIALIZED (
            SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
        ),
        moments AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j,
                   CAST(sum(CAST(a.x * b.x AS DECIMAL(20,12))) AS DOUBLE)
                       AS sxy,
                   CAST(count(*) AS DOUBLE) AS n
            FROM expl a JOIN expl b USING (vec_id)
            GROUP BY a.i, b.i
        ),
        means AS MATERIALIZED (
            SELECT i,
                   CAST(sum(CAST(x AS DECIMAL(20,12))) AS DOUBLE) / count(*)
                       AS m
            FROM expl GROUP BY i
        ),
        cov AS MATERIALIZED (
            SELECT moments.i AS i, moments.j AS j,
                   sxy / n - mi.m * mj.m AS cov
            FROM moments
            JOIN means mi ON mi.i = moments.i
            JOIN means mj ON mj.i = moments.j
        ),
        r0 AS MATERIALIZED (
            SELECT DISTINCT i, 0.125 AS v FROM cov
        )
    """
    steps = "".join(
        f""",
        w{k} AS MATERIALIZED (
            SELECT c.i,
                   CAST(sum(CAST(c.cov * r.v AS DECIMAL(20,12))) AS DOUBLE)
                       AS w
            FROM cov c JOIN r{k - 1} r ON r.i = c.j
            GROUP BY c.i
        ),
        n{k} AS MATERIALIZED (
            SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(20,12))) AS DOUBLE))
                AS nrm
            FROM w{k}
        ),
        r{k} AS MATERIALIZED (
            SELECT i, w / nrm AS v FROM w{k} CROSS JOIN n{k}
        )"""
        for k in range(1, iters + 1)
    )
    return (
        head
        + steps
        + f""" SELECT CAST(i AS INTEGER) AS dim_idx, round(v, 6) AS loading
          FROM r{iters} ORDER BY dim_idx"""
    )


def _pca_score_oracle(iters: int = 20) -> str:
    """t190: the t189 chain with a scoring tail — embeddings projected
    onto the ROUNDED eigenvector (t189's emitted loadings), per-label
    stats over quantized scores."""
    base = _pca_oracle(iters)
    chain = base[: base.rindex(" SELECT ")]
    return (
        chain
        + f""",
        vlist AS MATERIALIZED (
            SELECT list(round(v, 6) ORDER BY i) AS vl FROM r{iters}
        ),
        scored AS (
            SELECT label,
                   round(list_inner_product(embedding::DOUBLE[], vl), 6) AS s
            FROM embeddings CROSS JOIN vlist
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vectors,
               round(CAST(sum(CAST(s AS DECIMAL(20,12))) AS DOUBLE)
                     / count(*), 6) AS mean_score,
               round(min(s), 6) AS min_score,
               round(max(s), 6) AS max_score
        FROM scored GROUP BY label ORDER BY label"""
    )


register(
    QuerySpec(
        name="t189_top_principal_component",
        builder=sim_ops.top_principal_component,
        oracle=_pca_oracle(20),
        doc="distributed PCA: one-pass dxd covariance (metadata-sized outer-product agg) + 20 driver power iterations; the oracle unrolls the identical quantized matvec/normalize chain",
    )
)

register(
    QuerySpec(
        name="t190_principal_score_stats",
        builder=sim_ops.principal_score_stats,
        oracle=_pca_score_oracle(20),
        doc="PCA in use: embeddings projected onto the t189 eigenvector (broadcast-literal JVM fold), per-label score stats — the label-separation check for the top variance direction",
    )
)

register(
    QuerySpec(
        name="t191_pareto_frontier",
        builder=rel_ops.pareto_frontier,
        oracle="""
            SELECT p_partkey,
                   round(CAST(p_retailprice AS DOUBLE), 6) AS price,
                   CAST(p_size AS BIGINT) AS size
            FROM part p
            WHERE NOT EXISTS (
                SELECT 1 FROM part q
                WHERE q.p_retailprice <= p.p_retailprice
                  AND q.p_size <= p.p_size
                  AND (q.p_retailprice < p.p_retailprice
                       OR q.p_size < p.p_size)
            )
            ORDER BY p_partkey
        """,
        doc="2-D skyline (non-dominated on price x size) computed as one sorted sweep over per-price minima — O(n log n), no self-join; oracle is the textbook quadratic NOT EXISTS",
    )
)

register(
    QuerySpec(
        name="t192_dedup_keep_best",
        builder=dedup_ops.dedup_keep_best,
        oracle="""
            WITH base AS (
                SELECT doc_id,
                       md5(lower(trim(text))) AS fingerprint,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CAST(length(text) -
                            length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                            AS BIGINT) AS n_punct
                FROM documents
            ),
            scored AS (
                SELECT doc_id, fingerprint,
                       round(CAST(
                           (CASE WHEN len(tokens) BETWEEN 5 AND 100000
                                 THEN 0.4 ELSE 0.0 END)
                           + (CASE WHEN (CASE WHEN n_chars > 0
                                         THEN n_punct / CAST(n_chars AS DOUBLE)
                                         ELSE 0.0 END) < 0.2
                              THEN 0.3 ELSE 0.0 END)
                           + (CASE WHEN (CASE WHEN len(tokens) > 0
                                         THEN len(list_filter(tokens,
                                              t -> list_contains(
                                                  ['the','a','of','and',
                                                   'der','el','la'], t)))
                                              / CAST(len(tokens) AS DOUBLE)
                                         ELSE 0.0 END) > 0.01
                              THEN 0.3 ELSE 0.0 END) AS DOUBLE), 6)
                           AS quality
                FROM base
            )
            SELECT doc_id AS kept_doc, quality,
                   CAST(n_dups AS BIGINT) AS n_dups
            FROM (
                SELECT doc_id, quality,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY quality DESC, doc_id)
                           AS rn,
                       count(*) OVER (PARTITION BY fingerprint) AS n_dups
                FROM scored
            )
            WHERE rn = 1
            ORDER BY kept_doc
        """,
        doc="canonical-selection policy: exact-dup groups keep the highest-quality member (t27 composite, doc_id tiebreak) — the keep-cleanest counterpart to t17's keep-earliest",
    )
)

register(
    QuerySpec(
        name="t193_lm_quality_calibration",
        builder=ts_ops.lm_quality_calibration,
        oracle=(
            "WITH lm AS ("
            + REGISTRY["t67_bigram_lm_score"].oracle
            + "), q AS ("
            + REGISTRY["t27_quality_score"].oracle
            + """)
            SELECT CAST(decile AS INTEGER) AS decile,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(CAST(sum(CAST(lm_score AS DECIMAL(20,12)))
                              AS DOUBLE) / count(*), 6) AS mean_lm_score,
                   round(CAST(sum(CAST(quality AS DECIMAL(20,12)))
                              AS DOUBLE) / count(*), 6) AS mean_quality
            FROM (
                SELECT lm.doc_id, lm.lm_score, q.quality,
                       ntile(10) OVER (ORDER BY lm.lm_score, lm.doc_id)
                           AS decile
                FROM lm JOIN q ON q.doc_id = lm.doc_id
            )
            GROUP BY decile ORDER BY decile
            """
        ),
        doc="filter calibration: LM-score deciles vs mean heuristic quality — the two registered filters' SQL composed verbatim, so the agreement table can't drift from their definitions",
    )
)

register(
    QuerySpec(
        name="t194_transition_dwell_times",
        builder=event_ops.transition_dwell_times,
        oracle="""
            WITH pairs AS (
                SELECT event_type AS src,
                       lead(event_type) OVER w AS dst,
                       lead(ts_us) OVER w - ts_us AS dwell_us
                FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                             event_type FROM events)
                WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            )
            SELECT src, dst,
                   CAST(count(*) AS BIGINT) AS n_transitions,
                   round(CAST(sum(CAST(dwell_us AS DECIMAL(20,0)))
                              AS DOUBLE) / count(*) / 1000000.0, 6)
                       AS mean_dwell_sec,
                   round(max(dwell_us) / 1000000.0, 6) AS max_dwell_sec
            FROM pairs WHERE dst IS NOT NULL
            GROUP BY src, dst ORDER BY src, dst
        """,
        doc="journey timing: mean/max dwell seconds per event-type transition (t175's edges with time) — exact integer gaps, decimal-exact means",
    )
)

register(
    QuerySpec(
        name="t195_nation_share_of_region",
        builder=rel_ops.nation_share_of_region,
        oracle="""
            WITH per_cust AS (
                SELECT o_custkey,
                       sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
                FROM orders GROUP BY o_custkey
            ),
            per_nation AS (
                SELECT r_name, n_name, sum(rev) AS rev_dec
                FROM per_cust
                JOIN customer ON c_custkey = o_custkey
                JOIN nation ON n_nationkey = c_nationkey
                JOIN region ON r_regionkey = n_regionkey
                GROUP BY r_name, n_name
            )
            SELECT r_name, n_name,
                   round(CAST(rev_dec AS DOUBLE), 6) AS revenue,
                   round(CAST(rev_dec AS DOUBLE)
                         / CAST(sum(rev_dec) OVER (PARTITION BY r_name)
                                AS DOUBLE), 6) AS share_of_region,
                   round(CAST(rev_dec AS DOUBLE)
                         / CAST(sum(rev_dec) OVER () AS DOUBLE), 6)
                       AS share_of_total
            FROM per_nation
            ORDER BY r_name, n_name
        """,
        doc="hierarchical contribution: nation revenue share of region and of total via two window sums over the nation-grain aggregate (ratio-to-parent / ratio-to-report)",
    )
)

register(
    QuerySpec(
        name="t196_dim_standardization_stats",
        builder=sim_ops.dim_standardization_stats,
        oracle="""
            WITH expl AS (
                SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
                FROM embeddings,
                     UNNEST(range(1, len(embedding) + 1)) AS t(i)
            ),
            moments AS (
                SELECT dim,
                       CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(CAST(x AS DECIMAL(20,12))) AS DOUBLE) AS sx,
                       CAST(sum(CAST(x * x AS DECIMAL(20,12))) AS DOUBLE)
                           AS sxx
                FROM expl GROUP BY dim
            ),
            stats AS (
                SELECT dim, n, sx / n AS m,
                       sqrt(sxx / n - (sx / n) * (sx / n)) AS s
                FROM moments
            )
            SELECT CAST(e.dim AS INTEGER) AS dim_idx,
                   CAST(max(n) AS BIGINT) AS n_values,
                   round(max(m), 6) AS mean_val,
                   round(max(s), 6) AS std_val,
                   CAST(sum(CASE WHEN abs(x - m) > 3.0 * s THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_outliers
            FROM expl e JOIN stats USING (dim)
            GROUP BY e.dim ORDER BY dim_idx
        """,
        doc="per-dimension scaler table: exact mean/std from quantized moments plus |z|>3 outlier counts — the standardization a pipeline persists, and the dead/exploding-dim screen",
    )
)

register(
    QuerySpec(
        name="t197_price_quantity_grid",
        builder=rel_ops.price_quantity_grid,
        oracle="""
            SELECT CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2)) / 10000)
                        AS BIGINT) AS price_bin,
                   CAST(floor(CAST(l_quantity AS DECIMAL(12,2)) / 10)
                        AS BIGINT) AS qty_bin,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                              AS DOUBLE), 6) AS sum_price
            FROM lineitem
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        doc="2-D equi-width histogram over (price, quantity): integer bin arithmetic on exact decimals, one hash-agg on the cell key — the joint-distribution grid behind heatmaps and multi-column stats",
    )
)

register(
    QuerySpec(
        name="t198_rolling_week_revenue",
        builder=rel_ops.rolling_week_revenue,
        oracle="""
            WITH daily AS (
                SELECT datediff('day', DATE '1992-01-01',
                                CAST(o_orderdate AS DATE)) AS day_num,
                       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
                       sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
                FROM orders GROUP BY 1, 2
            )
            SELECT day,
                   round(CAST(rev_dec AS DOUBLE), 6) AS day_revenue,
                   round(CAST(sum(rev_dec) OVER w AS DOUBLE), 6)
                       AS trailing_7d_revenue,
                   CAST(count(*) OVER w AS BIGINT) AS n_days_in_window
            FROM daily
            WINDOW w AS (ORDER BY day_num
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY day
        """,
        doc="the registry's first RANGE frame: trailing-7-day revenue BY VALUE over day numbers, correct across missing days where a ROWS frame would over-reach; exact decimals inside the frame",
    )
)

register(
    QuerySpec(
        name="t199_token_budget_allocation",
        builder=ts_ops.token_budget_allocation,
        oracle="""
            WITH per_source AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(len(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           t -> t <> ''))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source
            ),
            scaled AS (
                SELECT source, n_docs, n_tokens,
                       CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(20,12))
                           AS w_dec
                FROM per_source
            ),
            total AS (SELECT sum(w_dec) AS w_total FROM scaled)
            SELECT source, n_docs, n_tokens,
                   round(CAST(w_dec AS DOUBLE) / CAST(w_total AS DOUBLE), 6)
                       AS weight,
                   round((CAST(w_dec AS DOUBLE) / CAST(w_total AS DOUBLE))
                         * 1000000, 6) AS budget_tokens,
                   round(((CAST(w_dec AS DOUBLE) / CAST(w_total AS DOUBLE))
                          * 1000000) / CAST(n_tokens AS DOUBLE), 6) AS epochs
            FROM scaled CROSS JOIN total
            ORDER BY source
        """,
        doc="the mixing plan in tokens: per-source counts, t140 temperature weights, budgeted tokens under a 1M run, and implied epochs (>1 means the source repeats)",
    )
)

register(
    QuerySpec(
        name="t200_pipeline_dashboard",
        builder=scale_ops.pipeline_dashboard,
        oracle="""
            SELECT metric, round(CAST(v AS DOUBLE), 6) AS value FROM (
                SELECT 'exact_dup_fraction' AS metric,
                       (count(*) - count(DISTINCT md5(lower(trim(text)))))
                       / CAST(count(*) AS DOUBLE) AS v
                FROM documents
                UNION ALL
                SELECT 'n_documents', count(*) FROM documents
                UNION ALL
                SELECT 'n_events', count(*) FROM events
                UNION ALL
                SELECT 'n_purchases', count(*) FROM events
                WHERE event_type = 'purchase'
                UNION ALL
                SELECT 'total_order_revenue',
                       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                            AS DOUBLE)
                FROM orders
                UNION ALL
                SELECT 'total_tokens',
                       sum(len(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           t -> t <> '')))
                FROM documents
                UNION ALL
                SELECT 'vocab_size', count(DISTINCT t) FROM (
                    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t
                    FROM documents
                ) WHERE t <> ''
                UNION ALL
                SELECT 'mean_doc_quality', avg(
                    (CASE WHEN n_tokens BETWEEN 5 AND 100000
                          THEN 0.4 ELSE 0.0 END)
                    + (CASE WHEN punct_ratio < 0.2 THEN 0.3 ELSE 0.0 END)
                    + (CASE WHEN stop_ratio > 0.01 THEN 0.3 ELSE 0.0 END))
                FROM (
                    SELECT CAST(len(tokens) AS BIGINT) AS n_tokens,
                           CASE WHEN length(text) > 0
                                THEN (length(text) - length(regexp_replace(
                                          text, '[^\\w\\s]', '', 'g')))
                                     / CAST(length(text) AS DOUBLE)
                                ELSE 0.0 END AS punct_ratio,
                           CASE WHEN len(tokens) > 0
                                THEN len(list_filter(tokens,
                                         t -> list_contains(
                                             ['the','a','of','and','der','el','la'],
                                             t)))
                                     / CAST(len(tokens) AS DOUBLE)
                                ELSE 0.0 END AS stop_ratio
                    FROM (
                        SELECT text,
                               list_filter(string_split_regex(lower(text),
                                                              '\\s+'),
                                           t -> t <> '') AS tokens
                        FROM documents
                    )
                )
            )
            ORDER BY metric
        """,
        doc="one-glance engine dashboard: corpus size, dup rate, vocabulary, token total, mean doc quality (t27 composite), event volume, purchases, revenue — long-form union of the registered operators' own aggregates",
    )
)

register(
    QuerySpec(
        name="t201_quantile_transform",
        builder=rel_ops.quantile_transform_prices,
        oracle="""
            WITH ranked AS (
                SELECT p_partkey, p_brand,
                       CAST(p_retailprice AS DOUBLE) AS price,
                       rank() OVER (PARTITION BY p_brand
                                    ORDER BY CAST(p_retailprice AS DOUBLE))
                           AS rmin,
                       count(*) OVER (PARTITION BY p_brand
                                      ORDER BY CAST(p_retailprice AS DOUBLE)
                                      RANGE BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS cnt_le,
                       count(*) OVER (PARTITION BY p_brand) AS n
                FROM part
            )
            SELECT p_partkey, p_brand,
                   round(price, 6) AS price,
                   round(CAST(rmin + cnt_le AS DOUBLE)
                         / (2.0 * CAST(n + 1 AS DOUBLE)), 6) AS quantile
            FROM ranked ORDER BY p_partkey
        """,
        doc="quantile (rank) transform to uniform (0,1) with average tie handling ((min_rank+max_rank)/2) — the monotone normalization persisted per brand; integer arithmetic until the final division",
    )
)

register(
    QuerySpec(
        name="t202_split_label_drift",
        builder=sample_ops.split_label_drift,
        oracle="""
            WITH assigned AS (
                SELECT CASE WHEN bucket < 80 THEN 'train'
                            WHEN bucket < 90 THEN 'val'
                            ELSE 'test' END AS split,
                       label
                FROM (
                    SELECT CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                                25, 8)) AS BIGINT) % 100
                               AS bucket,
                           e.label
                    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
                )
            ),
            cont AS (
                SELECT split, label, CAST(count(*) AS DOUBLE) AS o
                FROM assigned GROUP BY split, label
            ),
            rows_t AS (SELECT split, sum(o) AS rt FROM cont GROUP BY split),
            cols_t AS (SELECT label, sum(o) AS ct FROM cont GROUP BY label),
            tot AS (SELECT sum(o) AS n FROM cont),
            grid AS (
                SELECT r.split, c.label, rt, ct, n,
                       coalesce(o, 0.0) AS o,
                       (rt * ct) / n AS e
                FROM rows_t r CROSS JOIN cols_t c CROSS JOIN tot
                LEFT JOIN cont USING (split, label)
            )
            SELECT CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
                   CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
                   round(CAST(sum(CAST(((o - e) * (o - e)) / e
                                       AS DECIMAL(20,12))) AS DOUBLE), 6)
                       AS chi2,
                   CAST((count(DISTINCT split) - 1)
                        * (count(DISTINCT label) - 1) AS BIGINT) AS dof
            FROM grid
        """,
        doc="split-quality QA: chi-square of the md5 train/val/test assignment against embedding labels — a biased split shows up as label-split dependence; exact-decimal grid, empty cells included",
    )
)

register(
    QuerySpec(
        name="t203_sequence_anomaly_scores",
        builder=event_ops.sequence_anomaly_scores,
        oracle="""
            WITH inst AS (
                SELECT user_id, event_type AS src,
                       lead(event_type) OVER (PARTITION BY user_id
                                              ORDER BY epoch_us(ts), event_id)
                           AS dst
                FROM events
            ),
            inst2 AS (SELECT * FROM inst WHERE dst IS NOT NULL),
            model AS (
                SELECT src, dst,
                       CAST(count(*) AS DOUBLE)
                       / CAST(sum(count(*)) OVER (PARTITION BY src)
                              AS DOUBLE) AS p
                FROM inst2 GROUP BY src, dst
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_transitions,
                   round(CAST(sum(CAST(-ln(p) AS DECIMAL(20,12))) AS DOUBLE)
                         / count(*), 6) AS mean_nll
            FROM inst2 JOIN model USING (src, dst)
            GROUP BY user_id
            ORDER BY mean_nll DESC, user_id ASC
            LIMIT 20
        """,
        doc="bot screen: per-user mean -lnP of consecutive transitions under the corpus Markov model, top-20 most surprising; broadcast model join, quantized NLL sums",
    )
)

register(
    QuerySpec(
        name="t204_weekday_adjusted_anomalies",
        builder=rel_ops.weekday_adjusted_anomalies,
        oracle="""
            WITH daily AS (
                SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
                       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
                       sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
                FROM orders GROUP BY 1, 2
            ),
            m AS (
                SELECT dow,
                       CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(rev_dec) AS DOUBLE) AS s,
                       CAST(sum(CAST(CAST(rev_dec AS DOUBLE)
                                     * CAST(rev_dec AS DOUBLE)
                                     AS DECIMAL(38,6))) AS DOUBLE) AS ss
                FROM daily GROUP BY dow
            )
            SELECT day, dow,
                   round(CAST(rev_dec AS DOUBLE), 6) AS revenue,
                   round(s / n, 6) AS weekday_mean,
                   round((CAST(rev_dec AS DOUBLE) - s / n)
                         / sqrt(ss / n - (s / n) * (s / n)), 6) AS z_score
            FROM daily JOIN m USING (dow)
            WHERE abs((CAST(rev_dec AS DOUBLE) - s / n)
                      / sqrt(ss / n - (s / n) * (s / n))) > 2.0
            ORDER BY day
        """,
        doc="seasonality-corrected alerting: daily revenue z-scored against ITS WEEKDAY's exact moments, so weekends don't alert for being weekends",
    )
)

register(
    QuerySpec(
        name="t205_source_dispersion",
        builder=sim_ops.source_dispersion,
        oracle="""
            WITH j AS (
                SELECT d.source, e.vec_id, e.embedding::DOUBLE[] AS emb
                FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
            ),
            row_stats AS (
                SELECT source,
                       CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(CAST(list_inner_product(emb, emb)
                                     AS DECIMAL(20,12))) AS DOUBLE) AS ssq
                FROM j GROUP BY source
            ),
            cent AS (
                SELECT source,
                       CAST(sum(CAST(m * m AS DECIMAL(20,12))) AS DOUBLE)
                           AS cnorm_sq
                FROM (
                    SELECT source, i,
                           CAST(sum(CAST(x AS DECIMAL(20,12))) AS DOUBLE)
                           / count(*) AS m
                    FROM (
                        SELECT source, i, emb[i] AS x
                        FROM j, UNNEST(range(1, len(emb) + 1)) AS t(i)
                    )
                    GROUP BY source, i
                ) GROUP BY source
            )
            SELECT source,
                   CAST(n AS BIGINT) AS n_vectors,
                   round(ssq / n - cnorm_sq, 6) AS mean_sq_dist
            FROM row_stats JOIN cent USING (source)
            ORDER BY source
        """,
        doc="source tightness without a pairwise join: mean squared distance to the centroid via E|x-c|^2 = E|x|^2 - |c|^2 — O(rows x dim), quantized moments",
    )
)

register(
    QuerySpec(
        name="t206_session_type_pmi",
        builder=event_ops.session_type_pmi,
        oracle="""
            WITH marked AS (
                SELECT user_id, event_type, ts_us,
                       CASE WHEN lag(ts_us) OVER w IS NULL
                              OR ts_us - lag(ts_us) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS is_start
                FROM (SELECT user_id, event_id, event_type,
                             epoch_us(ts) AS ts_us FROM events)
                WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ),
            sess AS (
                SELECT user_id, event_type,
                       sum(is_start) OVER (PARTITION BY user_id
                                           ORDER BY ts_us
                                           ROWS UNBOUNDED PRECEDING)
                           AS session_id
                FROM marked
            ),
            stypes AS (
                SELECT DISTINCT user_id, session_id, event_type FROM sess
            ),
            ns AS (
                SELECT CAST(count(*) AS DOUBLE) AS n FROM (
                    SELECT DISTINCT user_id, session_id FROM stypes
                )
            ),
            tc AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS c
                FROM stypes GROUP BY event_type
            ),
            pc AS (
                SELECT a.event_type AS ta, b.event_type AS tb,
                       CAST(count(*) AS BIGINT) AS c12
                FROM stypes a
                JOIN stypes b
                  ON a.user_id = b.user_id AND a.session_id = b.session_id
                 AND a.event_type < b.event_type
                GROUP BY a.event_type, b.event_type
            )
            SELECT ta, tb, c12,
                   round(ln(CAST(c12 AS DOUBLE))
                         - ln(CAST(ca.c AS DOUBLE))
                         - ln(CAST(cb.c AS DOUBLE))
                         + ln(n), 6) AS pmi
            FROM pc
            JOIN tc ca ON ca.event_type = ta
            JOIN tc cb ON cb.event_type = tb
            CROSS JOIN ns
            ORDER BY ta, tb
        """,
        doc="session-level association mining: PMI of unordered event-type pairs co-occurring within 30-min sessions; islands sessionization + bounded session-keyed pair join, fixed ln-term order",
    )
)

register(
    QuerySpec(
        name="t208_shipping_sla_report",
        builder=rel_ops.shipping_sla_report,
        oracle="""
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_lineitems,
                   round(CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) AS within_30d,
                   round(CAST(sum(CASE WHEN lag_days <= 60 THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) AS within_60d,
                   round(CAST(sum(CASE WHEN lag_days <= 90 THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) AS within_90d
            FROM (
                SELECT o_orderpriority,
                       datediff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) AS lag_days
                FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        doc="operational SLA: fraction of line items shipped within 30/60/90 days per priority — conditional shares over one hash-agg, exact integer day arithmetic",
    )
)

register(
    QuerySpec(
        name="t209_supplier_concentration",
        builder=rel_ops.supplier_concentration,
        oracle="""
            WITH per_supp AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2)))) AS rev_dec
                FROM lineitem GROUP BY l_suppkey
            ),
            shares AS (
                SELECT n_name,
                       CAST(CAST(rev_dec AS DOUBLE)
                            / CAST(sum(rev_dec) OVER (PARTITION BY n_name)
                                   AS DOUBLE)
                            * (CAST(rev_dec AS DOUBLE)
                               / CAST(sum(rev_dec) OVER (PARTITION BY n_name)
                                      AS DOUBLE))
                            AS DECIMAL(20,12)) AS s2
                FROM per_supp
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation ON n_nationkey = s_nationkey
            )
            SELECT n_name,
                   CAST(count(*) AS BIGINT) AS n_suppliers,
                   round(CAST(sum(s2) AS DOUBLE), 6) AS hhi
            FROM shares GROUP BY n_name ORDER BY n_name
        """,
        doc="Herfindahl index of supplier revenue per nation: shares from exact decimals, each share^2 quantized before the order-independent sum",
    )
)

register(
    QuerySpec(
        name="t210_revenue_pareto",
        builder=rel_ops.revenue_pareto,
        oracle="""
            WITH spend AS (
                SELECT o_custkey,
                       sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend_dec
                FROM orders GROUP BY o_custkey
            ),
            ranked AS (
                SELECT spend_dec,
                       row_number() OVER (ORDER BY spend_dec DESC, o_custkey)
                           AS rnk,
                       count(*) OVER () AS n,
                       sum(spend_dec) OVER () AS total
                FROM spend
            )
            SELECT CAST(max(n) AS BIGINT) AS n_customers,
                   round(CAST(sum(CASE WHEN rnk * 100 <= 1 * n
                                       THEN spend_dec ELSE 0 END) AS DOUBLE)
                         / CAST(max(total) AS DOUBLE), 6) AS top1_share,
                   round(CAST(sum(CASE WHEN rnk * 100 <= 10 * n
                                       THEN spend_dec ELSE 0 END) AS DOUBLE)
                         / CAST(max(total) AS DOUBLE), 6) AS top10_share,
                   round(CAST(sum(CASE WHEN rnk * 100 <= 25 * n
                                       THEN spend_dec ELSE 0 END) AS DOUBLE)
                         / CAST(max(total) AS DOUBLE), 6) AS top25_share
            FROM ranked
        """,
        doc="revenue concentration: share of total spend from the top 1/10/25% of customers; integer cross-multiplied tier cuts, exact-decimal sums",
    )
)

register(
    QuerySpec(
        name="t211_reorder_cadence",
        builder=rel_ops.reorder_cadence,
        oracle="""
            WITH gaps AS (
                SELECT o_custkey,
                       datediff('day',
                                lag(CAST(o_orderdate AS DATE))
                                    OVER (PARTITION BY o_custkey
                                          ORDER BY CAST(o_orderdate AS DATE),
                                                   o_orderkey),
                                CAST(o_orderdate AS DATE)) AS gap_days
                FROM orders
            ),
            per_cust AS (
                SELECT o_custkey,
                       quantile_cont(gap_days, 0.5) AS median_gap
                FROM gaps WHERE gap_days IS NOT NULL
                GROUP BY o_custkey
            )
            SELECT CAST(count(*) AS BIGINT) AS n_repeat_customers,
                   round(quantile_cont(median_gap, 0.25), 6)
                       AS p25_median_gap,
                   round(quantile_cont(median_gap, 0.5), 6) AS p50_median_gap,
                   round(quantile_cont(median_gap, 0.75), 6)
                       AS p75_median_gap
            FROM per_cust
        """,
        doc="repeat-purchase cadence: per-customer median order gap, then global quartiles of those medians — the two-level robust percentile",
    )
)

register(
    QuerySpec(
        name="t212_monthly_ship_lag_trend",
        builder=rel_ops.monthly_ship_lag_trend,
        oracle="""
            WITH monthly AS (
                SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
                       CAST(count(*) AS BIGINT) AS n_lineitems,
                       round(CAST(sum(CAST(datediff('day',
                                 CAST(o_orderdate AS DATE),
                                 CAST(l_shipdate AS DATE)) AS DECIMAL(20,0)))
                              AS DOUBLE) / count(*), 6) AS mean_lag_days
                FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                GROUP BY 1
            )
            SELECT month, n_lineitems, mean_lag_days,
                   round(mean_lag_days - lag(mean_lag_days)
                         OVER (ORDER BY month), 6) AS mom_delta
            FROM monthly ORDER BY month
        """,
        doc="fulfillment lead-time trend: mean ship lag per order month plus the month-over-month delta; decimal-exact means, one lag window over the month grain",
    )
)

register(
    QuerySpec(
        name="t213_dedup_savings_by_source",
        builder=dedup_ops.dedup_savings_by_source,
        oracle="""
            WITH flagged AS (
                SELECT source, n_chars,
                       doc_id = min(doc_id) OVER (
                           PARTITION BY md5(lower(trim(text)))) AS kept
                FROM documents
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dropped,
                   CAST(sum(CASE WHEN NOT kept THEN n_chars ELSE 0 END)
                        AS BIGINT) AS chars_saved,
                   round(CAST(sum(CASE WHEN NOT kept THEN n_chars ELSE 0 END)
                              AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE), 6)
                       AS shrink_fraction
            FROM flagged GROUP BY source ORDER BY source
        """,
        doc="dedup's storage dividend: per source, docs and characters the exact-dedup pass drops plus the shrink fraction — one fingerprint window, no second aggregation",
    )
)

register(
    QuerySpec(
        name="t214_stream_top_tokens",
        builder=stream_jobs.stream_top_tokens,
        oracle=REGISTRY["t06_top_k_tokens"].oracle,
        doc="streaming twin of t06: micro-batched documents merge token counts via foreachBatch (full counts in the store — top-k is not incrementally maintainable), global top-k cut at drain must hash-equal batch t06",
    )
)

register(
    QuerySpec(
        name="t215_full_star_profit",
        builder=rel_ops.full_star_profit,
        oracle="""
            SELECT r_name, cn.n_name AS cust_nation, sn.n_name AS supp_nation,
                   p_brand,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(3,2))))
                              AS DOUBLE), 6) AS revenue
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation cn ON cn.n_nationkey = c_nationkey
            JOIN nation sn ON sn.n_nationkey = s_nationkey
            JOIN region ON r_regionkey = cn.n_regionkey
            GROUP BY r_name, cn.n_name, sn.n_name, p_brand
            ORDER BY r_name, cust_nation, supp_nation, p_brand
        """,
        doc="the widest join: lineitem against all six star tables at once, profit rolled to (region, cust nation, supp nation, brand) — the join-order stress query where Catalyst's reordering earns its keep",
    )
)

register(
    QuerySpec(
        name="t216_quality_drift_by_source",
        builder=ts_ops.quality_drift_by_source,
        oracle=(
            "WITH q AS ("
            + REGISTRY["t27_quality_score"].oracle
            + """),
            j AS (
                SELECT d.source, d.doc_id, q.quality
                FROM documents d JOIN q ON q.doc_id = d.doc_id
            ),
            m AS (
                SELECT source,
                       CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(CAST(doc_id AS DECIMAL(20,0))) AS DOUBLE)
                           AS sx,
                       CAST(sum(CAST(quality AS DECIMAL(20,12))) AS DOUBLE)
                           AS sy,
                       CAST(sum(CAST(CAST(doc_id AS DOUBLE) * quality
                                     AS DECIMAL(20,12))) AS DOUBLE) AS sxy,
                       CAST(sum(CAST(CAST(doc_id AS DECIMAL(20,0))
                                     * CAST(doc_id AS DECIMAL(20,0))
                                     AS DECIMAL(38,0))) AS DOUBLE) AS sxx
                FROM j GROUP BY source
            )
            SELECT source,
                   CAST(n AS BIGINT) AS n_docs,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000.0, 6)
                       AS quality_drift_per_1k_docs
            FROM m ORDER BY source
            """
        ),
        doc="ingestion-order drift monitor: per-source OLS slope of the t27 quality composite on doc_id (scaled per 1000 docs); the registered filter's SQL composed verbatim",
    )
)

register(
    QuerySpec(
        name="t217_order_value_ks",
        builder=rel_ops.order_value_ks,
        oracle="""
            WITH per_value AS (
                SELECT CAST(o_totalprice AS DOUBLE) AS v,
                       sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                                THEN 1 ELSE 0 END) AS n94,
                       sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
                                THEN 1 ELSE 0 END) AS n95
                FROM orders
                WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
                GROUP BY 1
            ),
            cdfs AS (
                SELECT CAST(sum(n94) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       / CAST(sum(n94) OVER () AS DOUBLE) AS f94,
                       CAST(sum(n95) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       / CAST(sum(n95) OVER () AS DOUBLE) AS f95,
                       sum(n94) OVER () AS t94,
                       sum(n95) OVER () AS t95
                FROM per_value
            )
            SELECT CAST(max(t94) AS BIGINT) AS n_1996,
                   CAST(max(t95) AS BIGINT) AS n_1997,
                   round(max(abs(f94 - f95)), 6) AS ks_stat
            FROM cdfs
        """,
        doc="exact two-sample KS statistic between 1996/1997 order values: tie-safe value-grain CDFs, sup of |F94-F95| — the distribution-shift number, computed exactly",
    )
)

register(
    QuerySpec(
        name="t218_user_behavior_entropy",
        builder=event_ops.user_behavior_entropy,
        oracle="""
            WITH counts AS (
                SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY user_id, event_type
            ),
            terms AS (
                SELECT user_id,
                       sum(c) OVER (PARTITION BY user_id) AS n,
                       CAST(-(CAST(c AS DOUBLE) / CAST(
                                 sum(c) OVER (PARTITION BY user_id)
                                 AS DOUBLE))
                             * ln(CAST(c AS DOUBLE) / CAST(
                                 sum(c) OVER (PARTITION BY user_id)
                                 AS DOUBLE))
                            AS DECIMAL(20,12)) AS term
                FROM counts
            )
            SELECT user_id,
                   CAST(max(n) AS BIGINT) AS n_events,
                   round(CAST(sum(term) AS DOUBLE), 6) AS type_entropy
            FROM terms GROUP BY user_id ORDER BY user_id
        """,
        doc="behavioral diversity: per-user Shannon entropy of the event-type mix — near zero flags single-action scripts; quantized -p ln p terms, two user-keyed shuffles",
    )
)

register(
    QuerySpec(
        name="t219_kvtext_roundtrip_word_count",
        builder=text_ops.kvtext_roundtrip_word_count,
        oracle=REGISTRY["t01_word_count"].oracle,
        doc="the pluggable SINK's correctness row: T01 written through the kvtext Python DataSource writer (part-NNNNN, exactly-once commit), read back through the reader, must hash-equal the T01 oracle",
    )
)

register(
    QuerySpec(
        name="t220_token_position_stats",
        builder=ts_ops.token_position_stats,
        oracle=r"""
            WITH pos AS (
                SELECT tokens[i] AS token,
                       CAST(CAST(i - 1 AS DOUBLE)
                            / CAST(len(tokens) - 1 AS DOUBLE)
                            AS DECIMAL(20,12)) AS rel
                FROM (
                    SELECT list_filter(
                        string_split_regex(lower(text), '\s+'),
                        t -> t <> '') AS tokens
                    FROM documents
                ), (SELECT unnest(range(1, 100000)) AS i)
                WHERE len(tokens) >= 2 AND i <= len(tokens)
            ),
            counts AS (
                SELECT token, CAST(count(*) AS BIGINT) AS n_occ
                FROM pos GROUP BY token
            ),
            top AS (
                SELECT token, n_occ FROM counts
                ORDER BY n_occ DESC, token ASC LIMIT 10
            )
            SELECT token, max(n_occ) AS n_occ,
                   round(CAST(sum(rel) AS DOUBLE) / count(*), 6)
                       AS mean_rel_pos
            FROM pos JOIN top USING (token)
            GROUP BY token ORDER BY token
        """,
        doc="positional structure of the top-10 tokens: mean relative in-document position (0=start, 1=end) — boilerplate pins near the edges, content near 0.5; quantized fractions, broadcast top-k cut",
    )
)

register(
    QuerySpec(
        name="t221_order_size_distribution",
        builder=rel_ops.order_size_distribution,
        oracle="""
            WITH dist AS (
                SELECT k, CAST(count(*) AS BIGINT) AS n_orders FROM (
                    SELECT l_orderkey, count(*) AS k
                    FROM lineitem GROUP BY l_orderkey
                ) GROUP BY k
            )
            SELECT CAST(k AS BIGINT) AS lines_per_order, n_orders,
                   round(CAST(n_orders AS DOUBLE)
                         / CAST(sum(n_orders) OVER () AS DOUBLE), 6) AS share
            FROM dist ORDER BY lines_per_order
        """,
        doc="the full fanout histogram (orders with exactly k lines + shares) — the distribution a capacity model consumes; two stacked map-side aggs",
    )
)

register(
    QuerySpec(
        name="t223_incremental_dedup_from_store",
        builder=dedup_ops.incremental_dedup_from_store,
        oracle=REGISTRY["t65_incremental_dedup"].oracle,
        doc="t65's production form: the incoming batch anti-joined against "
        "the MATERIALIZED fingerprint-bucketed history store (zero exchange "
        "of the store side, plan-gated) — result-identical to t65, same "
        "oracle",
    )
)

register(
    QuerySpec(
        name="t222_intradoc_repetition",
        builder=ts_ops.intradoc_repetition,
        oracle=r"""
            WITH tok AS (
                SELECT source,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), grams AS (
                SELECT source,
                       len(toks) AS tw,
                       len(list_distinct(toks)) AS dw,
                       list_transform(range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i+1]) AS g2,
                       list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
                FROM tok
            ), m AS (
                SELECT source, tw, dw,
                       len(g2) AS t2, len(list_distinct(g2)) AS d2,
                       len(g3) AS t3, len(list_distinct(g3)) AS d3
                FROM grams
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN (tw > 0 AND 10*(tw-dw) > 3*tw)
                                   OR (t2 > 0 AND 5*(t2-d2) > t2)
                                   OR (t3 > 0 AND 50*(t3-d3) > 9*t3)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
                   round(CAST(sum(tw) - sum(dw) AS DOUBLE)
                         / CAST(sum(tw) AS DOUBLE), 6) AS dup_word_rate,
                   round(CAST(sum(t2) - sum(d2) AS DOUBLE)
                         / CAST(sum(t2) AS DOUBLE), 6) AS dup_2gram_rate,
                   round(CAST(sum(t3) - sum(d3) AS DOUBLE)
                         / CAST(sum(t3) AS DOUBLE), 6) AS dup_3gram_rate
            FROM m GROUP BY source ORDER BY source
        """,
        doc="Gopher-style intra-document repetition screen: per-source "
        "micro-averaged duplicate word/2-gram/3-gram occurrence rates + how "
        "many docs the Rae-et-al thresholds (0.30/0.20/0.18) would drop; "
        "all per-row HOFs, integer-exact threshold tests, one tiny agg",
    )
)

register(
    QuerySpec(
        name="t224_zordered_box_revenue",
        builder=scale_ops.zordered_box_revenue,
        oracle="""
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4)
                       AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                       AS revenue
            FROM lineitem
            WHERE l_partkey BETWEEN 1 AND 50 AND l_suppkey BETWEEN 1 AND 25
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        doc="2-D box scan over a Z-ORDERED lineitem layout (Morton-clustered "
        "on (l_partkey,l_suppkey), written once per corpus version): both "
        "range predicates reach the parquet scan where row-group min/max "
        "pruning skips everything outside the box on BOTH dimensions — the "
        "multi-column data-skipping layout one sort column or one partition "
        "column can't give; result layout-independent (oracle runs the box "
        "on the unclustered source), skip ratio measured in tests/test_zorder.py",
    )
)

register(
    QuerySpec(
        name="t225_event_corrections_upsert",
        builder=scale_ops.event_corrections_upsert,
        oracle="""
            WITH base AS (
                SELECT event_id, CAST(ts AS DATE) AS day, value FROM events
            ), delta AS (
                SELECT event_id, day, value + 1000 AS value
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 10 = 0
                UNION ALL
                SELECT event_id + 1000000000, day, 1.0
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 17 = 0
            ), merged AS (
                SELECT * FROM base
                WHERE event_id NOT IN (SELECT event_id FROM delta)
                UNION ALL SELECT * FROM delta
            )
            SELECT day, CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM merged GROUP BY day ORDER BY day
        """,
        doc="MERGE-style upsert on plain parquet: one day's corrections + "
        "late arrivals replace/append via dynamic partition overwrite scoped "
        "to the touched day (io.partition_upsert) — untouched partitions keep "
        "their files byte-identical (mtime-asserted in tests/test_upsert.py); "
        "daily totals after the merge, oracle applies the same merge "
        "relationally over the unpartitioned source",
    )
)

register(
    QuerySpec(
        name="t226_event_change_summary",
        builder=scale_ops.event_change_summary,
        oracle="""
            WITH base AS (
                SELECT event_id, CAST(ts AS DATE) AS day, value FROM events
            ), delta AS (
                SELECT event_id, day, value + 1000 AS value
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 10 = 0
                UNION ALL
                SELECT event_id + 1000000000, day, 1.0
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 17 = 0
            ), merged AS (
                SELECT * FROM base
                WHERE event_id NOT IN (SELECT event_id FROM delta)
                UNION ALL SELECT * FROM delta
            ), diff AS (
                SELECT CASE WHEN b.event_id IS NULL THEN 'insert'
                            WHEN m.event_id IS NULL THEN 'delete'
                            WHEN m.day <> b.day OR m.value <> b.value
                                THEN 'update'
                            ELSE 'unchanged' END AS change_type,
                       COALESCE(m.value, 0) - COALESCE(b.value, 0) AS vdelta
                FROM base b FULL OUTER JOIN merged m ON b.event_id = m.event_id
            )
            SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
                   round(CAST(sum(CAST(vdelta AS DECIMAL(14,2))) AS DOUBLE), 6)
                       AS value_delta
            FROM diff GROUP BY change_type ORDER BY change_type
        """,
        doc="CDC audit of the t225 merge via operators.scale.snapshot_diff: "
        "each side reduced to (key, xxhash64 fingerprint of the compared "
        "columns, carried value) so the full-outer diff join shuffles key + "
        "8 bytes instead of full rows; per change_type (insert = late "
        "arrivals, update = +1000 corrections, unchanged) the row count and "
        "net value delta; oracle full-outer-joins base vs the relationally "
        "derived merge — fingerprint- and layout-independent",
    )
)

register(
    QuerySpec(
        name="t227_manifest_pruned_box_revenue",
        builder=scale_ops.manifest_pruned_box_revenue,
        oracle="""
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4)
                       AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                       AS revenue
            FROM lineitem
            WHERE l_partkey BETWEEN 20 AND 120 AND l_suppkey BETWEEN 3 AND 9
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        doc="FILE-granularity zone-map pruning over the shared Z-ordered "
        "lineitem layout: parquet footer min/max envelopes (pyarrow, "
        "metadata-only) select the files a 2-D box could touch "
        "(operators.scale.pruned_file_list); only those files are read, "
        "then the pushed-down predicates re-filter — conservative pruning, "
        "layout-independent result (oracle runs the box on the unclustered "
        "source); the Iceberg/Delta manifest trick that turns 100 TB scan "
        "planning from O(files) footer reads into a metadata lookup",
    )
)

register(
    QuerySpec(
        name="t228_snapshot_version_totals",
        builder=scale_ops.snapshot_version_totals,
        oracle="""
            WITH base AS (
                SELECT event_id, CAST(ts AS DATE) AS day, value FROM events
            ), delta AS (
                SELECT event_id, day, value + 1000 AS value
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 10 = 0
                UNION ALL
                SELECT event_id + 1000000000, day, 1.0
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 17 = 0
            ), merged AS (
                SELECT * FROM base
                WHERE event_id NOT IN (SELECT event_id FROM delta)
                UNION ALL SELECT * FROM delta
            )
            SELECT * FROM (
                SELECT CAST(1 AS BIGINT) AS version,
                       CAST(count(*) AS BIGINT) AS n_events,
                       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 6)
                           AS sum_value
                FROM base
                UNION ALL
                SELECT CAST(2 AS BIGINT),
                       CAST(count(*) AS BIGINT),
                       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 6)
                FROM merged
            ) ORDER BY version
        """,
        doc="time travel on plain parquet (io.versioned_write/read_snapshot): "
        "immutable v=N snapshot directories published by an atomic manifest "
        "swap — totals per retained version of the daily events table "
        "(v1 as ingested, v2 after the t225 corrections merge), each read "
        "through a pinned-version snapshot read; oracle derives both "
        "versions relationally from the source; crash-safety (orphan "
        "directories stay invisible) tested in tests/test_snapshots.py",
    )
)

register(
    QuerySpec(
        name="t229_stream_event_corrections",
        builder=stream_jobs.stream_event_corrections,
        oracle="""
            WITH base AS (
                SELECT event_id, CAST(ts AS DATE) AS day, value FROM events
            ), delta AS (
                SELECT event_id, day, value + 1000 AS value
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 10 = 0
                UNION ALL
                SELECT event_id + 1000000000, day, 1.0
                FROM base WHERE day = DATE '2024-01-02' AND event_id % 17 = 0
            ), merged AS (
                SELECT * FROM base
                WHERE event_id NOT IN (SELECT event_id FROM delta)
                UNION ALL SELECT * FROM delta
            )
            SELECT day, CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM merged GROUP BY day ORDER BY day
        """,
        doc="the t225 corrections merge as a STREAM: correction micro-batches "
        "each MERGEd into the day-partitioned table via io.partition_upsert "
        "inside foreachBatch; delta rows carry absolute corrected values so "
        "an at-least-once redelivery rewrites the same bytes (batch 0 is "
        "pushed through the sink twice to prove it); when the stream drains, "
        "daily totals hash-equal the one-shot batch merge (same oracle as "
        "t225)",
    )
)

register(
    QuerySpec(
        name="t230_bm25_retrieval",
        builder=ts_ops.bm25_retrieval,
        oracle="""
            WITH """ + _TOKENS_CTE + """,
            per_doc AS (
                SELECT doc_id, len(tokens) AS dl,
                       len(list_filter(tokens, t -> t = 'dup'))   AS tf0,
                       len(list_filter(tokens, t -> t = 'merge')) AS tf1,
                       len(list_filter(tokens, t -> t = 'scan'))  AS tf2
                FROM toks
            ),
            stats AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                       CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                       CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
                       CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
                FROM per_doc
            ),
            scored AS (
                SELECT doc_id,
                       round(
                           ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                             * (tf0 * 2.2)
                             / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                         + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                             * (tf1 * 2.2)
                             / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                         + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5))
                             * (tf2 * 2.2)
                             / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                       , 6) AS score
                FROM per_doc CROSS JOIN stats
            )
            SELECT CAST(rnk AS INTEGER) AS rnk, doc_id, score FROM (
                SELECT doc_id, score,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                FROM scored WHERE score > 0
            ) WHERE rnk <= 10 ORDER BY rnk
        """,
        doc="BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query "
        "(one rare + two common terms): the lexical-search baseline next to "
        "t18's dense cosine — one scan computing per-row (dl, per-term tf) "
        "via array HOFs (no explode), corpus stats as a broadcast scalar, "
        "fixed-order per-term score sum for engine-identical doubles, "
        "TakeOrderedAndProject top-10 with rank assigned after the cut",
    )
)

register(
    QuerySpec(
        name="t231_events_after_dv_delete",
        builder=scale_ops.events_after_dv_delete,
        oracle="""
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM events
            WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-03'
                       AND event_id % 13 = 0)
            GROUP BY day ORDER BY day
        """,
        doc="merge-on-read DELETE via deletion vectors (io.delete_where / "
        "read_with_deletes): matching rows recorded as (file, row_index) "
        "coordinates from Spark's _metadata struct in a _deletes sidecar — "
        "zero data files rewritten; reads anti-join the broadcast-sized "
        "sidecar; io.apply_deletes compacts only the files the sidecar "
        "references (tests/test_deletes.py); daily totals after deleting "
        "event_id%13=0 on one day, oracle is the plain WHERE NOT over the "
        "source — sidecar-independent",
    )
)

register(
    QuerySpec(
        name="t232_rolling_distinct_users_hll",
        builder=scale_ops.rolling_distinct_users_hll,
        oracle="""
            WITH du AS (
                SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
            ), days AS (SELECT DISTINCT day FROM du)
            SELECT d.day,
                   CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_exact,
                   TRUE AS hll_within_5pct
            FROM days d
            JOIN du u ON u.day >= d.day - 6 AND u.day <= d.day
            GROUP BY d.day ORDER BY d.day
        """,
        doc="mergeable-sketch table: per-day Apache DataSketches HLL sketches "
        "of user_id persisted once (a few KB/day); any rolling window's "
        "distinct users is hll_union_agg over the relevant rows — never a "
        "re-scan of events (exact distinct is not additive across days; the "
        "sketch is the additive form). Output pins the estimate within 5% "
        "of the exact windowed distinct (lgConfigK=12 → ~0.8% rse), the "
        "invariant-oracle pattern folded into the op itself",
    )
)

register(
    QuerySpec(
        name="t233_weekly_retention_theta",
        builder=scale_ops.weekly_retention_theta,
        oracle="""
            WITH w AS (
                SELECT user_id,
                       max(CASE WHEN CAST(ts AS DATE)
                                BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'
                                THEN 1 ELSE 0 END) AS in1,
                       max(CASE WHEN CAST(ts AS DATE)
                                BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
                                THEN 1 ELSE 0 END) AS in2
                FROM events GROUP BY user_id
            )
            SELECT * FROM (
                SELECT 'churned' AS segment,
                       CAST(sum(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_exact,
                       TRUE AS theta_within_bounds
                FROM w
                UNION ALL
                SELECT 'new',
                       CAST(sum(CASE WHEN in1 = 0 AND in2 = 1 THEN 1 ELSE 0 END)
                            AS BIGINT), TRUE
                FROM w
                UNION ALL
                SELECT 'retained',
                       CAST(sum(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END)
                            AS BIGINT), TRUE
                FROM w
            ) ORDER BY segment
        """,
        doc="set algebra on sketches: week-over-week retained/churned/new "
        "users via Theta sketch intersection and difference — the mergeable "
        "form that supports the set operations HLL cannot; at 100 TB "
        "'active both weeks' is algebra over two KB summaries, not a "
        "distinct-join of two scans. Output pins each estimate within "
        "max(5%, ±2) of the exact segment counts (theta is exact below "
        "k=4096 distincts, ~1.6% rse beyond); oracle re-derives the exact "
        "segments and the invariant",
    )
)

register(
    QuerySpec(
        name="t234_order_price_quantiles_kll",
        builder=scale_ops.order_price_quantiles_kll,
        oracle="""
            SELECT * FROM (
                SELECT CAST(0.5 AS DOUBLE) AS q,
                       round(CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5)
                                  AS DOUBLE), 6) AS exact_value,
                       TRUE AS kll_rank_within_bounds
                FROM orders
                UNION ALL
                SELECT CAST(0.9 AS DOUBLE),
                       round(CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9)
                                  AS DOUBLE), 6), TRUE
                FROM orders
                UNION ALL
                SELECT CAST(0.99 AS DOUBLE),
                       round(CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99)
                                  AS DOUBLE), 6), TRUE
                FROM orders
            ) ORDER BY q
        """,
        doc="mergeable quantile sketches: global p50/p90/p99 of order totals "
        "from per-month KLL sketches merged together (quantiles are not "
        "additive; the sketch is the mergeable form — any period's "
        "quantiles from KB-sized sketch rows, never a re-scan). KLL bounds "
        "RANK error (~1.65% at k=200), so the invariant pins the exact rank "
        "of each estimated value within ±2.5% of the target; the exact "
        "interpolated percentile is computed alongside for the oracle "
        "(t35 determinism recipe)",
    )
)

register(
    QuerySpec(
        name="t235_variant_props_stats",
        builder=event_ops.variant_props_stats,
        oracle="""
            SELECT event_type,
                   round(avg(k), 6) AS avg_k,
                   CAST(min(k) AS BIGINT) AS min_k,
                   CAST(max(k) AS BIGINT) AS max_k,
                   CAST(count(k) AS BIGINT) AS n_with_k
            FROM (
                SELECT event_type,
                       CAST(json_extract(props, '$.k') AS BIGINT) AS k
                FROM events
            )
            GROUP BY event_type
            ORDER BY event_type
        """,
        doc="JSON field extraction from props, stats per event_type, "
        "through Spark 4's VARIANT "
        "type: parse_json once into a binary variant column, typed "
        "try_variant_get path lookup — at 100 TB the variant is parsed "
        "once at ingest and stored columnar-shredded in parquet, so "
        "props-heavy scans stop being CPU-bound re-parses; "
        "hash-identical to the json_extract oracle (NULL on missing "
        "path)",
    )
)

register(
    QuerySpec(
        name="t236_org_subtree_rollup",
        builder=rel_ops.org_subtree_rollup,
        oracle=rel_ops.ORG_SUBTREE_SQL,
        doc="hierarchical subtree aggregation via Spark 4 WITH RECURSIVE: "
        "subtree size + balance rollup for the top three levels of a "
        "synthetic binary org tree over customers (parent(n)=n//2 — "
        "deterministic, acyclic) — iteration INSIDE the engine, the gap "
        "the reference filled with K driver-chained jobs and t48 fills "
        "imperatively; the oracle is the IDENTICAL recursive SQL run by "
        "DuckDB (ORG_SUBTREE_SQL is shared verbatim)",
    )
)

register(
    QuerySpec(
        name="t237_indexed_point_lookup",
        builder=scale_ops.bloom_point_lookup,
        oracle="""
            SELECT event_id, event_type,
                   round(CAST(value AS DOUBLE), 6) AS value
            FROM events
            WHERE event_id IN (17, 230, 452, 671, 888, 903)
            ORDER BY event_id
        """,
        doc="point lookup over the bloom-filtered lookup layout (default "
        "since r15 by measurement, bloom vs index shootout: 3-4x the "
        "posting index at both tiers with zero secondary assets): 6 "
        "fixed event ids answered by one pushed IN predicate over a "
        "16-file hash-scattered copy whose row groups self-exclude via "
        "split-block bloom filters — the needle-query complement of "
        "t227's zone maps (which cannot prune a hash-scattered key); "
        "the LSM posting index remains on the SAME consolidated copy as "
        "the pinned equality reference and t240's distributed-probe "
        "path, and deletes route through read_with_deletes; exactness "
        "never rests on the filter (bloom is a physical row-group skip "
        "under the same predicate; oracle answers from the raw table)",
    )
)

register(
    QuerySpec(
        name="t238_maintained_daily_revenue",
        builder=scale_ops.maintained_daily_revenue,
        oracle="""
            WITH src AS (
                SELECT event_id, CAST(ts AS DATE) AS day, value FROM events
            ),
            corrections AS (
                SELECT event_id, day, value + 1000 AS value
                FROM src WHERE day = DATE '2024-01-02' AND event_id % 10 = 0
            ),
            inserts AS (
                SELECT event_id + 1000000000, day, 1.0
                FROM src WHERE day = DATE '2024-01-02' AND event_id % 17 = 0
            ),
            delta AS (
                SELECT * FROM corrections UNION ALL SELECT * FROM inserts
            ),
            merged AS (
                SELECT s.* FROM src s
                WHERE NOT EXISTS (
                    SELECT 1 FROM delta d WHERE d.event_id = s.event_id
                )
                UNION ALL SELECT * FROM delta
            )
            SELECT day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM merged GROUP BY day ORDER BY day
        """,
        doc="incremental view maintenance: the post-corrections per-day "
        "(n_events, sum_value) view computed as pre-correction view + the "
        "delta's per-day group contributions (updates: +1000/0 rows; "
        "inserts: +1.0/+1 row) — the merged table is never read "
        "(no-rescan plan-gated in tests/test_ivm.py); the oracle "
        "recomputes from the relationally-merged table, certifying the "
        "abelian-group maintenance algebra the sketch tables and "
        "streaming merges also rely on",
    )
)

register(
    QuerySpec(
        name="t239_chain_maintained_daily_revenue",
        builder=scale_ops.chain_maintained_daily_revenue,
        oracle="""
            WITH src AS (
                SELECT event_id, CAST(ts AS DATE) AS day, value FROM events
            ),
            corrections AS (
                SELECT event_id, day, value + 1000 AS value
                FROM src WHERE day = DATE '2024-01-02' AND event_id % 10 = 0
            ),
            inserts AS (
                SELECT event_id + 1000000000, day, 1.0
                FROM src WHERE day = DATE '2024-01-02' AND event_id % 17 = 0
            ),
            delta AS (
                SELECT * FROM corrections UNION ALL SELECT * FROM inserts
            ),
            merged AS (
                SELECT s.* FROM src s
                WHERE NOT EXISTS (
                    SELECT 1 FROM delta d WHERE d.event_id = s.event_id
                )
                UNION ALL SELECT * FROM delta
            )
            SELECT day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6)
                       AS sum_value
            FROM merged GROUP BY day ORDER BY day
        """,
        doc="cross-snapshot incremental view maintenance: the snapshot-v2 "
        "per-day (n_events, sum_value) view computed as the materialized "
        "v1 view ⊕ the aggregated v1→v2 snapshot_diff change feed in "
        "retract/assert form — the plan reads ONLY the tiny view table "
        "and the delta-sized CDC feed, never v1, never v2, never the "
        "source events (plan-gated in tests/test_ivm.py); t238's "
        "maintenance algebra generalized onto the REAL CDC path, so "
        "group-moving updates and emptied-group retraction maintain "
        "correctly; the oracle recomputes the v2 view from the "
        "relationally-merged table — identical to t238's oracle by "
        "construction, because v2 IS the corrections merge",
    )
)

register(
    QuerySpec(
        name="t240_batched_point_lookup",
        builder=scale_ops.batched_point_lookup,
        oracle="""
            SELECT event_id, event_type,
                   round(CAST(value AS DOUBLE), 6) AS value
            FROM events
            WHERE event_id % 2 = 1 AND event_id BETWEEN 1 AND 4999
            ORDER BY event_id
        """,
        doc="batched point lookup, probe keys as a DataFrame (2,500 odd "
        "event ids via spark.range standing in for a key file): "
        "point_lookup_df probes t237's posting index and re-filters via "
        "LEFT SEMI joins against the probe keys — never isin() "
        "literals, never a driver list; join side chosen from the "
        "measured key count (broadcast under POINT_LOOKUP_BROADCAST_MAX, "
        "forced shuffle_hash past it — plan-gated in "
        "tests/test_point_index.py); the oracle answers the identical id "
        "set from the raw table",
    )
)

# --------------------------------------------------------------------------
# Registry ordering — the external correctness harness checks the FIRST 50
# entries of queries(), so order is part of the contract: DRIVER_WINDOW
# (below) is moved to the front of REGISTRY at import, and every other
# spec follows in registration order.
# tests/test_registry_contract.py pins this ordering invariant.
# --------------------------------------------------------------------------

#: Specs whose BUILDER may run Spark jobs (beyond parquet file-listing)
#: before the returned DataFrame is ever executed — the registry's
#: honest ledger of construction-time eagerness (VERDICT r07 item 7).
#: Four legitimate reasons, named per entry below:
#:   (profile)   a driver-held statistic is computed up front (memoized
#:               per process) — e.g. t21's skew profile, k-means
#:               centroids, PCA moments, iterative label propagation;
#:   (ensure)    the query reads a cached table layout that is
#:               materialized on first touch per corpus (z-order /
#:               upsert / snapshot / DV / sketch / bucketed / staged
#:               dirs) — whichever sibling builds first pays, so ALL
#:               specs sharing an artifact are flagged;
#:   (stream)    the builder runs a bounded Structured Streaming job to
#:               completion and returns the sink's contents;
#:   (pipe)      the builder pipes an md5-placed Dataset through an
#:               executable (JVM ``PipedRDD``), and forming an RDD from an
#:               adaptive plan runs the plan's shuffle map stage.
#: Everything NOT listed here must be strictly lazy at build time —
#: asserted by tests/test_plans_global.py::test_plan_has_no_scale_antipatterns
#: (job-group tracking around every registered builder), so tools that
#: construct all DataFrames (plan sweeps, COVERAGE generation) know
#: exactly which builders cost cluster time.
EAGER_BUILD: frozenset[str] = frozenset(
    {
        # (profile) driver-held statistics / iterative convergence loops
        "t21_ngram_jaccard_pairs",
        "t48_dedup_clusters",
        "t82_kmeans_clusters",
        "t126_token_pmi",
        "t161_event_pagerank",
        "t165_ivf_topk_invariants",
        "t189_top_principal_component",
        "t190_principal_score_stats",
        "t206_session_type_pmi",
        # t135 and t170 compose ngram_jaccard_pairs(warn_df=1000): the
        # first call per process runs the skew profile, and both also
        # (ensure) the shingle-hash store
        "t135_cross_source_dup_matrix",
        "t170_ensemble_dup_pairs",
        # (ensure) first-touch materialization of a cached layout/store
        "t40_bucketed_segment_revenue",
        "t42_partition_pruned_daily",
        "t09_revenue_per_region",  # custkey-bucketed orders store (r13)
        "t12_revenue_rollup",  # custkey pre-joined line store (r16)
        "t16_session_window",  # user_id-bucketed events store (r13)
        "t45_event_pairs_within_minute",  # same events store as t16 (r13;
        # rangeframe window since r16, still the same store)
        "t18_cosine_topk",  # probe-set collect (probe-sized, GEMM constant)
        "t25_ivf_topk",  # cell-bucketed IVF assignment index (r13)
        "t65_incremental_dedup",
        "t66_jsonl_ingest",
        "t116_dead_letter_ingest",
        "t119_pysource_word_count",
        "t22_minhash_lsh_pairs",  # persisted band table + shingle-hash store
        "t219_kvtext_roundtrip_word_count",
        "t223_incremental_dedup_from_store",
        "t224_zordered_box_revenue",
        "t225_event_corrections_upsert",
        "t226_event_change_summary",
        "t227_manifest_pruned_box_revenue",
        "t228_snapshot_version_totals",
        "t231_events_after_dv_delete",
        "t232_rolling_distinct_users_hll",
        "t237_indexed_point_lookup",  # bloom-enabled events lookup copy
        "t240_batched_point_lookup",  # same lookup copy + posting index;
        # the builder also runs the keys-stats aggregate + posting probe
        "t239_chain_maintained_daily_revenue",  # snapshot chain + view/CDC dirs
        # (stream) bounded streaming run inside the builder
        "t49_stream_dedup_counts",
        "t55_stream_event_pairs",
        "t56_foreachbatch_ingest",
        "t72_stream_dedup_store",
        "t109_stream_enriched_segments",
        "t157_stream_hourly_anomalies",
        "t169_stream_pricing_summary",
        "t214_stream_top_tokens",
        "t229_stream_event_corrections",
        # (pipe) the mapper's stage runs when the reducer's RDD is formed
        "t20_pipe_word_count",
    }
)

#: The first 50 ``queries()`` keys, frozen in the order the external
#: driver checks them: three canaries (t01, t09, t17), then the last
#: window the round-era rotation composed. Every slot is an
#: oracle-bearing spec (tests/test_registry_contract.py::
#: test_driver_window_ordering).
DRIVER_WINDOW: tuple[str, ...] = (
    "t01_word_count",
    "t09_revenue_per_region",
    "t17_exact_dedup",
    "t20_pipe_word_count",
    "t07_filter_agg_revenue",
    "t08_pricing_summary",
    "t15_tumbling_window",
    "t15b_sliding_window",
    "t154_hourly_anomalies",
    "t156_image_resize_checksum",
    "t157_stream_hourly_anomalies",
    "t158_cluster_source_chi2",
    "t159_contrastive_pairs",
    "t160_shard_planner",
    "t161_event_pagerank",
    "t162_conversion_latency",
    "t163_rare_token_docs",
    "t164_approx_distinct_invariants",
    "t165_ivf_topk_invariants",
    "t166_curated_corpus",
    "t167_weighted_median_price",
    "t168_cep_pattern_counts",
    "t169_stream_pricing_summary",
    "t170_ensemble_dup_pairs",
    "t171_referential_integrity_audit",
    "t172_linear_attribution",
    "t173_rolling_window_dedup",
    "t174_props_struct_stats",
    "t175_transition_matrix",
    "t176_price_bins_equidepth",
    "t177_largest_remainder_allocation",
    "t178_weekday_revenue_profile",
    "t180_discount_sensitivity",
    "t181_char_entropy",
    "t182_token_burstiness",
    "t183_interarrival_percentiles",
    "t184_recursive_hierarchy_rollup",
    "t185_header_dims",
    "t186_vocab_mass_cut",
    "t187_winsorized_price_stats",
    "t188_shared_dialect_stats",
    "t190_principal_score_stats",
    "t191_pareto_frontier",
    "t192_dedup_keep_best",
    "t193_lm_quality_calibration",
    "t194_transition_dwell_times",
    "t239_chain_maintained_daily_revenue",
    "t04_md5_partition_histogram",
    "t05_distinct_tokens",
    "t06_top_k_tokens",
)


def _apply_driver_window() -> None:
    """Rebuild REGISTRY in window-first order (in place, so references to
    the dict object stay valid)."""
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    for name in DRIVER_WINDOW:
        REGISTRY[name] = snapshot.pop(name)
    REGISTRY.update(snapshot)


_apply_driver_window()
