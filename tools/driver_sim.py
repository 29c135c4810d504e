"""Driver-contract simulation: what the external verify harness does.

Fresh process → import __spark_entry__ → entry(spark) smoke → run
queries()[name] at sf0.01 → run oracle_sql()[name] in DuckDB on the same
parquet views → order-insensitive value-hash compare.

Usage:
    python tools/driver_sim.py [sf_dir] [--window] [--only NAMES] [--json OUT]

--window replays the EXACT driver gate: only the first 50 queries()
entries (DRIVER_WINDOW order). Without it, every registered query runs
(the full local certification sweep). --only NAME[,NAME...] runs the
named queries. --json writes one record per query (rows/schema/hash
match, row counts, error).
"""
import datetime
import hashlib
import json
import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

import __spark_entry__ as e
from mapreduce_google_spark.session import get_spark

args = [a for a in sys.argv[1:]]
WINDOW = "--window" in args
if WINDOW:
    args.remove("--window")
OUT = None
if "--json" in args:
    i = args.index("--json")
    OUT = args[i + 1]
    del args[i : i + 2]
ONLY = None
if "--only" in args:
    i = args.index("--only")
    ONLY = args[i + 1].split(",")
    del args[i : i + 2]
SF = args[0] if args else "/root/testdata/sf0.01"

# no console progress bar: it ends in \r, not \n, so with stdout and
# stderr in one file it would share lines with the result lines
spark = get_spark(
    app_name="driver-sim",
    master="local[8]",
    shuffle_partitions=8,
    extra_conf={"spark.ui.showConsoleProgress": "false"},
)

# 1. smoke: entry()
df = e.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={df.schema.simpleString()}")
assert len(rows) >= 0

# 2. oracle harness
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )


def norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def valhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


qs, oracles = e.queries(), e.oracle_sql()
names = ONLY if ONLY else (list(qs)[:50] if WINDOW else sorted(qs))
fails = 0
results = {}
for name in names:
    rec = {"rows_match": None, "schema_match": None, "hash_match": None,
           "spark_rows": None, "oracle_rows": None, "err": None}
    try:
        sdf = qs[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        rec["spark_rows"] = len(srows)
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            results[name] = rec
            continue
        rel = con.execute(oracles[name])
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
        rec["oracle_rows"] = len(drows)
        rec["rows_match"] = len(srows) == len(drows)
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        rec["hash_match"] = valhash(scols, srows) == valhash(dcols, drows)
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if not ok:
            fails += 1
        print(f"{'OK' if ok else 'MISMATCH'} {name}: "
              f"rows {len(srows)}/{len(drows)} "
              f"cols={rec['schema_match']} hash={rec['hash_match']}")
    except Exception as ex:  # record like the driver does, keep going
        rec["err"] = f"{type(ex).__name__}: {ex}"[:500]
        fails += 1
        print(f"ERROR {name}: {rec['err'][:120]}")
    results[name] = rec
if OUT:
    with open(OUT, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {OUT}")
print("FAILURES:", fails)
spark.stop()
sys.exit(1 if fails else 0)
