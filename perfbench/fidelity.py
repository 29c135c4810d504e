#!/usr/bin/env python3
"""Compare the generated star schema with a set of reference tables.

    python3 perfbench/fidelity.py --sf sf0.1 --reference <dir of <table>.parquet> [--seed 1]

Generates the tables ``query_mix`` reads, with the row counts of
``--sf``, into ``.perfbench_work/`` and checks, table by table against
the reference: row count, every column's parquet physical and logical
type, row groups and codec, and per column a summary that the queries'
cost and answers depend on (numbers: mean, spread, 1st and 99th
percentile; text: distinct values and mean length; vectors: length and
mean squared cosine).
Prints one line per mismatch and exits non-zero if there is any.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.datagen import STAR_ROWS, star_schema  # noqa: E402

#: Allowed relative difference of a summary value, on top of four
#: standard errors of sampling.
TOL = 0.10
#: Standard error of a number column's summary values, in units of
#: ``std / sqrt(rows)``; the tail percentiles' is that of a heavy tail.
SE = {"mean": 1.0, "std": 0.71, "p1": 10.0, "p99": 10.0}


def layout(path: str) -> dict:
    f = pq.ParquetFile(path)
    md = f.metadata
    cols = {}
    for i in range(md.num_columns):
        c = f.schema.column(i)
        cols[c.path] = (c.physical_type, str(c.logical_type))
    return {
        "rows": md.num_rows,
        "row_groups": md.num_row_groups,
        "codec": md.row_group(0).column(0).compression,
        "columns": cols,
    }


def summary(col: pa.ChunkedArray) -> dict[str, float]:
    t = col.type
    if pa.types.is_timestamp(t):
        col = col.cast(pa.int64())
        t = col.type
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        x = col.to_numpy().astype(np.float64)
        p1, p99 = np.percentile(x, [1, 99])
        return {"mean": x.mean(), "std": x.std(), "p1": p1, "p99": p99}
    if pa.types.is_string(t):
        return {
            "distinct": len(pc.unique(col)),
            "mean_len": pc.mean(pc.utf8_length(col)).as_py(),
        }
    if pa.types.is_list(t):
        # mean squared cosine between the first 500 vectors: 1/dim for
        # random directions, more when they cluster
        v = np.array(col.slice(0, 500).to_pylist(), dtype=np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        g = v @ v.T
        cos2 = (np.sum(g**2) - len(v)) / (len(v) * (len(v) - 1))
        return {"mean_len": pc.mean(pc.list_value_length(col)).as_py(), "cos2": cos2}
    return {}


def compare(gen_dir: str, ref_dir: str) -> list[str]:
    bad = []
    for name in sorted(os.listdir(ref_dir)):
        if not name.endswith(".parquet"):
            continue
        g, r = os.path.join(gen_dir, name), os.path.join(ref_dir, name)
        if not os.path.exists(g):
            bad.append(f"{name}: not generated")
            continue
        lg, lr = layout(g), layout(r)
        for k in ("rows", "row_groups", "codec", "columns"):
            if lg[k] != lr[k]:
                bad.append(f"{name}: {k} {lg[k]} != reference {lr[k]}")
        tg, tr = pq.read_table(g), pq.read_table(r)
        for col in tr.column_names:
            if col not in tg.column_names:
                continue
            sg, sr = summary(tg[col]), summary(tr[col])
            for k, want in sr.items():
                got = sg[k]
                if k in SE:
                    std = sr["std"] or 1.0
                    allowed = TOL * std + 4 * SE[k] * std / np.sqrt(lr["rows"])
                else:
                    allowed = TOL * (abs(want) or 1.0)
                if abs(got - want) > allowed:
                    bad.append(f"{name}.{col}: {k} {got:.6g} != reference {want:.6g}")
    return bad


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", required=True, choices=sorted(STAR_ROWS))
    p.add_argument("--reference", required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    out = os.path.join(ROOT, ".perfbench_work", f"fidelity-{os.getpid()}")
    try:
        star_schema(out, args.seed, args.sf)
        bad = compare(out, args.reference)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    for line in bad:
        print(line)
    print(f"{len(bad)} mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
