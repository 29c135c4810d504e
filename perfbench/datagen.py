"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The program under test only ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Closed vocabulary of the star-schema ``documents`` corpus.
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Vocabulary of the exec-job text corpus; Zipf-ranked, rank 0 commonest.
TEXT_VOCAB = [f"w{i:03d}" for i in range(400)]
#: Token the grep jobs search for. It never occurs by chance.
GREP_NEEDLE = "needle"

#: Row counts of the repository's test tables at two of its scale
#: factors; ``perfbench/fidelity.py`` compares a generated set with them.
STAR_ROWS = {
    "sf0.01": {
        "customer": 1500,
        "supplier": 100,
        "part": 2000,
        "orders": 15000,
        "lineitem": 60000,
        "events": 10000,
        "documents": 500,
        "embeddings": 500,
    },
    "sf0.1": {
        "customer": 15000,
        "supplier": 1000,
        "part": 20000,
        "orders": 150000,
        "lineitem": 600000,
        "events": 100000,
        "documents": 5000,
        "embeddings": 2000,
    },
}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _days(start: dt.datetime, n_days: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "us") + n_days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def star_schema(out_dir: str, seed: int, sf: str, scale: float = 1.0) -> dict[str, int]:
    """Write the ten star-schema tables (``<name>.parquet``) the registry's
    queries read, with the row counts of scale factor ``sf``; returns the
    row count of each. Column types, value distributions and parquet
    layout follow the repository's test tables (``events.ts`` included:
    microseconds, not adjusted to UTC). ``scale`` shrinks every table but
    the fixed dimensions (used by the self-test)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(10, int(v * scale)) for k, v in STAR_ROWS[sf].items()}
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put(
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    nc = n["customer"]
    put(
        "customer",
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        },
    )
    ns = n["supplier"]
    put(
        "supplier",
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        },
    )
    npart = n["part"]
    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    things = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    put(
        "part",
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{colors[a]} {things[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
            ),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
        },
    )
    no = n["orders"]
    put(
        "orders",
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), rng.integers(0, 2400, no)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        },
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    put(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(dt.datetime(1995, 1, 2), rng.integers(0, 2500, nl)),
        },
    )
    ne = n["events"]
    users = max(10, nc // 10)
    ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]")
    )
    put(
        "events",
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, users, ne).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        },
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 5 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the corpus has
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_VOCAB, k)))
    put(
        "documents",
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    nv = n["embeddings"]
    # unit vectors in random directions; the label is independent of them
    labels = rng.integers(0, 10, nv)
    vec = rng.normal(size=(nv, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put(
        "embeddings",
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        },
    )
    return rows


def text_corpus(
    out_dir: str, seed: int, n_files: int, file_bytes: int, needle_lines: int
) -> None:
    """Write ``n_files`` text files of about ``file_bytes`` each: lines of
    Zipf-skewed tokens, with ``needle_lines`` lines per file carrying
    :data:`GREP_NEEDLE` so a grep job always has output."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ranks = np.arange(1, len(TEXT_VOCAB) + 1)
    p = 1.0 / ranks
    p /= p.sum()
    vocab = np.array(TEXT_VOCAB)
    for f in range(n_files):
        n_lines = max(needle_lines + 1, file_bytes // 48)
        lens = rng.integers(3, 12, n_lines)
        toks = vocab[rng.choice(len(vocab), int(lens.sum()), p=p)]
        lines, pos = [], 0
        for ln in lens:
            lines.append(" ".join(toks[pos : pos + ln]))
            pos += ln
        for i in rng.choice(n_lines, needle_lines, replace=False):
            lines[i] = f"{lines[i]} {GREP_NEEDLE}"
        with open(os.path.join(out_dir, f"part-{f:03d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def event_files(
    out_dir: str,
    seed: int,
    n_files: int,
    events_per_file: int,
    n_users: int,
    dup_share: float,
    file_span_s: int,
    max_disorder_s: int,
) -> list[str]:
    """Write ``n_files`` parquet event files for the streaming workload;
    returns their paths in publish order.

    File ``i`` covers event time ``[i, i+1) * file_span_s`` from a fixed
    origin, shifted back by up to ``max_disorder_s`` (bounded disorder).
    Users are Zipf-skewed. A ``dup_share`` of each file's rows redelivers
    earlier rows of the previous file with identical content.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    origin = np.datetime64("2024-03-01T00:00:00", "us")
    paths: list[str] = []
    next_id = 0
    prev: pa.Table | None = None
    for i in range(n_files):
        n_new = events_per_file
        ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        off_s = i * file_span_s + rng.uniform(0, file_span_s, n_new)
        off_s = np.maximum(0.0, off_s - rng.uniform(0, max_disorder_s, n_new))
        ts = origin + (off_s * 1e6).astype("timedelta64[us]")
        users = np.minimum(rng.zipf(1.3, n_new) - 1, n_users - 1).astype(np.int64)
        t = pa.table(
            {
                "event_id": ids,
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": users,
                "event_type": rng.choice(["click", "purchase", "view"], n_new),
                "value": np.round(rng.uniform(0.01, 100, n_new), 2),
            }
        )
        if prev is not None and dup_share > 0:
            k = int(n_new * dup_share)
            t = pa.concat_tables([t, prev.take(rng.choice(prev.num_rows, k, replace=False))])
        prev = t.slice(0, n_new)
        path = os.path.join(out_dir, f"events-{i:05d}.parquet")
        _write(t, path)
        paths.append(path)
    return paths


def flush_file(out_dir: str, name: str, after_s: int) -> str:
    """One event far past every generated event: it advances the
    watermark so every real session closes and is emitted. Its own user
    id (-1) is excluded from the expected result."""
    origin = np.datetime64("2024-03-01T00:00:00", "us")
    t = pa.table(
        {
            "event_id": np.array([-1], dtype=np.int64),
            "ts": pa.array(
                np.array([origin + np.timedelta64(after_s, "s")]), pa.timestamp("us", tz="UTC")
            ),
            "user_id": np.array([-1], dtype=np.int64),
            "event_type": ["view"],
            "value": np.array([0.0]),
        }
    )
    path = os.path.join(out_dir, name)
    _write(t, path)
    return path
