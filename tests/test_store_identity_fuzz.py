"""Property fuzz for the bucketed-store identity protocol (r13).

``io.adopt_or_build_bucketed_table`` is the substrate under t09/t11/
t12/t16/t22/t25/t40/t45/t223 — a wrong adoption silently
mis-routes co-located joins, and a build that clears the wrong
directory deletes a live store.
This fuzz drives random SEQUENCES of builds over random bucket specs,
interleaved with planted junk (retired-scheme directories, plain
parquet, torn sidecar-less stores), and asserts the two safety
invariants directly:

1. **Never adopt wrong files**: after every call, the effective table's
   DESCRIBE metadata matches exactly the spec that was requested, and
   scanning it returns the build's rows.
2. **Never delete a live store**: a sidecar-bearing sibling built by an
   earlier step still adopts (file mtimes unchanged) when re-requested,
   no matter what junk was planted or which other specs were built in
   between.

Deterministic (``derandomize=True``) like the rest of the fuzz suite.
Hypothesis drives spec CHOICE only; all Spark work happens inside the
test body (no flaky per-example session churn — one shared session).
"""

from __future__ import annotations

import glob
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SPECS = [
    (2, ["k"]),
    (4, ["k"]),
    (4, ["k", "v"]),
    (2, ["v"]),
    # a bucket COLUMN whose name itself has the ``_k<digits>`` shape of
    # the store suffix (VERDICT r13 item 6): ``st_k2_f_k2_<hash>`` is a
    # store of its own, never confused with another spec's
    (2, ["f_k2"]),
]

#: per-step action: build spec i, or plant junk of a given flavor
_ACTIONS = st.lists(
    st.one_of(
        st.tuples(st.just("build"), st.integers(0, len(_SPECS) - 1)),
        st.tuples(
            st.just("junk"),
            st.sampled_from(["retired_k4", "retired_k4_cols", "plain", "torn"]),
        ),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(actions=_ACTIONS)
def test_adopt_build_sequences_never_misroute_or_delete_live(
    spark, tmp_path_factory, actions
):
    from mapreduce_google_spark.io import (
        adopt_or_build_bucketed_table,
        bucket_table_suffix,
    )

    tmp = tmp_path_factory.mktemp("storefuzz")
    base = str(tmp / "st")
    df = spark.range(40).selectExpr(
        "id", "id % 7 AS k", "id % 3 AS v", "id % 4 AS f_k2"
    )
    built: dict[int, tuple[str, dict]] = {}  # spec idx -> (name, mtimes)

    def mtimes(path: str) -> dict:
        return {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part-*")}

    def store_path(i: int) -> str:
        n, cols = _SPECS[i]
        return base + bucket_table_suffix(n, cols)

    try:
        for step, (kind, arg) in enumerate(actions):
            if kind == "junk":
                flavor = arg
                victim = {"plain": 0, "torn": 1}.get(flavor)
                target = {
                    "retired_k4": f"{base}_k4",
                    "retired_k4_cols": f"{base}_k4_k",
                    "plain": store_path(0),
                    "torn": store_path(1),
                }[flavor]
                # a foreign/crashed writer clobbering a CURRENT-scheme
                # path models a fresh session finding garbage there —
                # drop the (per-session) catalog entry the way a new
                # session would never have had it
                if victim is not None:
                    spark.sql(
                        "DROP TABLE IF EXISTS mgs_fuzz_store"
                        + bucket_table_suffix(*_SPECS[victim])
                    )
                    built.pop(victim, None)
                df.limit(10).write.mode("overwrite").parquet(target)
                spec_file = os.path.join(target, "_BUCKET_SPEC.json")
                if os.path.exists(spec_file):
                    os.remove(spec_file)  # foreign writers have no sidecar
                continue

            i = arg
            n, cols = _SPECS[i]
            name = adopt_or_build_bucketed_table(
                spark, "mgs_fuzz_store", base, cols, n, lambda: df
            )
            # invariant 1: metadata matches the REQUESTED spec exactly
            desc = {
                r.col_name: r.data_type
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            }
            want_cols = "[" + ", ".join(f"`{c}`" for c in cols) + "]"
            assert desc.get("Bucket Columns") == want_cols, (step, desc)
            assert desc.get("Num Buckets") == str(n), (step, desc)
            assert spark.table(name).count() == 40, (step, name)
            # invariant 2: every OTHER live store still adopts untouched
            for j, (nm_j, mt_j) in built.items():
                if j != i:
                    assert mtimes(store_path(j)) == mt_j, (
                        f"step {step}: building spec {i} disturbed live "
                        f"store {j}"
                    )
            built[i] = (name, mtimes(store_path(i)))
    finally:
        for nm, _ in built.values():
            spark.sql(f"DROP TABLE IF EXISTS {nm}")
        spark.sql(
            "DROP TABLE IF EXISTS mgs_fuzz_store"
            + bucket_table_suffix(*_SPECS[0])
        )
