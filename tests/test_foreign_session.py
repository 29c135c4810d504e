"""Foreign-session certification (VERDICT r11 item 3): the catalog/
warehouse-touching registry entries must be green on a SparkSession
created WITHOUT the engine's static confs — the session shape the
driver actually hands us. ``spark.sql.warehouse.dir`` is per-JVM
(SharedState), so this necessarily runs in a subprocess."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

#: every registry entry that touches the catalog — t40 (the r11
#: driver-red, when it wrote MANAGED tables) and t12's default path read
#: io.bucketed_fact_table stores, t22's band table and shingle-hash
#: store and t223's fingerprint store go through
#: io.adopt_or_build_bucketed_table
#: (external LOCATION under io.shared_store_root + CREATE TABLE). Grep
#: audit for completeness lives in test_probe_list_covers_catalog_touchers
#: below.
CATALOG_TOUCHING = (
    "t40_bucketed_segment_revenue",
    "t22_minhash_lsh_pairs",
    "t223_incremental_dedup_from_store",
    "t12_revenue_rollup",
    "t25_ivf_topk",
    "t16_session_window",
    "t45_event_pairs_within_minute",
)

#: entries whose correctness depends on session confs the engine must
#: apply at RUNTIME because the driver's session never saw get_spark's
#: build-time confs — t15 reads events.parquet (TIMESTAMP(NANOS) needs
#: nanosAsLong + the UTC timezone pin, the round-1 driver failure
#: class), t19 exercises the documents loaders. Cheap canaries that
#: keep io._ensure_read_confs honest on a vanilla session.
RUNTIME_CONF_SENSITIVE = (
    "t15_tumbling_window",
    "t19_text_stats",
)


def test_catalog_queries_green_on_default_session(tmp_path):
    """Run the probe with cwd=tmp_path so Spark's DEFAULT warehouse
    resolves to tmp_path/spark-warehouse — exactly the driver's session
    shape."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = os.path.join(repo, "tests", "foreign_session_probe.py")
    env = dict(os.environ, PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, probe, SF_DIR, *CATALOG_TOUCHING, *RUNTIME_CONF_SENSITIVE],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, (
        f"foreign-session probe failed:\nSTDOUT:\n{out.stdout[-4000:]}\n"
        f"STDERR:\n{out.stderr[-4000:]}"
    )
    assert '"ok": true' in out.stdout
    # the probe really used the default warehouse (sanity that the test
    # tested what it claims), and no entry left a managed table there:
    # every store lives under io.shared_store_root
    assert os.path.isdir(tmp_path / "spark-warehouse")
    assert not os.listdir(tmp_path / "spark-warehouse")


def test_probe_list_covers_catalog_touchers():
    """CATALOG_TOUCHING must stay in sync with the code: every package
    call site of ``saveAsTable``/``spark.table``/``tableExists`` must
    live in a module whose operators are represented in the probe list
    (or be the streaming memory-sink, which is session-scoped by
    construction and covered by tests/test_streaming.py)."""
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "mapreduce_google_spark")
    hits: set[str] = set()
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            text = open(path).read()
            if re.search(r"\bsaveAsTable\(|\bspark\.table\(|\btableExists\(", text):
                hits.add(os.path.relpath(path, pkg))
    # modules whose catalog use is exercised by the probe list (scale→
    # t40, dedup→t22/t223, io→adopt_or_build under both, relational→
    # t12's bucketed fact stores) or explicitly session-scoped
    # (streaming memory sink: spark.table on a temp view of the SAME
    # session, no warehouse involvement)
    accounted = {
        "operators/scale.py",
        "operators/dedup.py",
        "operators/relational.py",
        "operators/similarity.py",
        "operators/events.py",
        "io.py",
        "streaming/jobs.py",
    }
    unaccounted = hits - accounted
    assert not unaccounted, (
        f"new catalog-touching modules {unaccounted} — add their registry "
        "entries to CATALOG_TOUCHING in this file"
    )
