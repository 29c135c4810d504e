"""Registry-wide plan-quality gate: EVERY registered query's physical
plan is free of the two anti-patterns that kill 100 TB jobs —
row-at-a-time Python evaluation (``BatchEvalPython*``: each row pickled
across the Python boundary; the Arrow-batched nodes ArrowEvalPython /
MapInPandas / FlatMap*InPandas / ArrowEvalPythonUDTF are the sanctioned
forms) and non-broadcast cartesian products (``CartesianProduct``: an
all-pairs shuffle join; single-row/dimension cross joins must resolve to
BroadcastNestedLoopJoin).

Unlike the targeted gates in test_plans.py, this sweep is a REGRESSION
NET: a new query (or a refactor of an old one) that slips a per-row UDF
or an unbroadcast cross join into any of the 130+ registered plans fails
here by name, without anyone having to remember to write its gate.
"""

from __future__ import annotations

import re

import pytest

from mapreduce_google_spark.plans import formatted_plan
from mapreduce_google_spark.queries import EAGER_BUILD, REGISTRY

#: nodes that pickle rows one at a time across the Python boundary
ROW_PYTHON = re.compile(r"\bBatchEvalPython\w*\b")
#: the non-broadcast all-pairs join
CARTESIAN = re.compile(r"\bCartesianProduct\b")


def _ran_nonlisting_jobs(spark, group: str) -> bool:
    """Did any Spark job in ``group`` do more than parquet file listing?
    Evicted job/stage info (spark.ui.retained* pressure) counts as NO —
    the check must not flake on status-store retention."""
    tracker = spark.sparkContext.statusTracker()
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = tracker.getStageInfo(s)
            if si is not None and not si.name.startswith("parquet at "):
                return True
    return False


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_has_no_scale_antipatterns(name, spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup(f"build-{name}", name)
    try:
        df = REGISTRY[name].builder(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    # construction-time eagerness contract (VERDICT r07 item 7): only
    # EAGER_BUILD members may run real Spark jobs before the DataFrame
    # executes — everything else must be lazy, so sweeps/tools that
    # build all 200+ DataFrames don't silently pay cluster time
    assert name in EAGER_BUILD or not _ran_nonlisting_jobs(
        spark, f"build-{name}"
    ), (
        f"{name}: builder ran Spark jobs during construction but is not "
        "in queries.EAGER_BUILD — make it lazy or add it to the ledger "
        "with a (profile)/(ensure)/(stream)/(pipe) reason"
    )
    plan = formatted_plan(df)
    row_py = ROW_PYTHON.findall(plan)
    assert not row_py, (
        f"{name}: row-at-a-time Python node(s) {sorted(set(row_py))} in plan "
        "— use pandas_udf / mapInPandas / useArrow=True instead"
    )
    assert not CARTESIAN.search(plan), (
        f"{name}: CartesianProduct in plan — broadcast the small side "
        "(single-row totals and dimension tables must build a "
        "BroadcastNestedLoopJoin)"
    )


# --- banded-join guard contract (VERDICT r17 next-round item 7) -------------
#
# The r17 registry sweep proved that BANDING ALONE IS NOT A SCALE
# GUARANTEE: on low-entropy corpora the (band, band_val) buckets
# collapse and the equi-join reconstructs the quadratic product the
# banding exists to avoid (t77: one 13,380-doc bucket -> 282M candidate
# bound -> 241 s at sf1). The t22/t77 fix shape — a max_bucket-style
# candidate cap, ON by default — must therefore be a FAMILY-WIDE
# contract, not a per-entry patch. Enforced in two layers:
#
#   1. DETECTION: every module-level function in operators.dedup /
#      operators.similarity whose source matches a candidate-generating
#      self-join idiom must appear in _BANDED_INVENTORY — a new banded
#      op cannot slip in unlisted.
#   2. GUARD: every inventory entry must either carry its declared
#      guard parameter with a non-None default (guard ON), or be in an
#      explicit exception dict with the reason and (for pending
#      default-flips) the scheduled round.

#: builder -> guard parameter whose default must be ON (not None); a
#: required parameter has no default and counts as ON (the cell count
#: of semantic_dedup, which its caller sizes from the corpus)
_BANDED_GUARDED = {
    "minhash_lsh_pairs": "max_bucket",
    "minhash_lsh_pairs_from_bands": "max_bucket",
    "simhash_near_dup_pairs": "max_bucket",
    "embedding_near_dup_pairs": "max_bucket",
    "semantic_dedup": "n_cells",
}

#: private self-join tail -> the public builders that call it. The
#: detection idiom matches the tail; the guard is a parameter of the
#: callers, which cap the index the tail joins, so the inventory below
#: is keyed by the callers.
_BANDED_TAILS = {
    "_jaccard_pairs_from_index": (
        "ngram_jaccard_pairs",
        "ngram_jaccard_pairs_direct",
    ),
    "_containment_pairs_from_index": (
        "containment_pairs",
        "containment_pairs_direct",
    ),
}

_JACCARD_REASON = (
    "BY-DESIGN: t21 is the exact-Jaccard oracle anchor "
    "(r17 registry sweep: by design) — at 100 TB it runs "
    "on samples; capping it would change what 'exact' means"
)
_CONTAINMENT_REASON = (
    "MEASURED r18, default stays None (r18 banded-tail measurement): "
    "3-gram shingle document frequencies do not collapse like 8-bit "
    "band values — the 1000 cap never fires at sf1 (rows identical) "
    "and only adds the df-profile pass (~5-8%). The guard stays "
    "available for degenerate/boilerplate corpora"
)

#: builder -> (guard param that EXISTS, reason the default is still
#: None / the fix is elsewhere). Pending entries name their flip round;
#: by-design entries say why a cap would be wrong. Moving an entry OUT
#: of this dict and into _BANDED_GUARDED is what "landing the flip"
#: means for this gate.
_BANDED_EXCEPTIONS = {
    "ngram_jaccard_pairs": ("max_df", _JACCARD_REASON),
    "ngram_jaccard_pairs_direct": ("max_df", _JACCARD_REASON),
    "containment_pairs": ("max_df", _CONTAINMENT_REASON),
    "containment_pairs_direct": ("max_df", _CONTAINMENT_REASON),
    "embedding_near_dup_pairs_exact": (
        None,
        "BY-DESIGN: the brute-force verification baseline tests and "
        "the DuckDB oracle mirror — never a registered default",
    ),
}


def test_banded_builders_carry_guard():
    """Layer 1+2 of the banded-guard contract (see block comment)."""
    import inspect

    from mapreduce_google_spark.operators import dedup, similarity

    detected = set()
    for mod in (dedup, similarity):
        for name, fn in vars(mod).items():
            if not (
                inspect.isfunction(fn) and fn.__module__ == mod.__name__
            ):
                continue
            src = inspect.getsource(fn)
            # the repo's candidate self-join idioms: aliased a/b band
            # join, or the SemDeDup keep/drop within-cell join
            if ('.alias("a")' in src and '.alias("b")' in src) or (
                '"keep_emb"' in src and '"drop_emb"' in src
            ):
                if name in _BANDED_TAILS:
                    for caller in _BANDED_TAILS[name]:
                        assert f"{name}(" in inspect.getsource(
                            vars(mod)[caller]
                        ), (caller, name, "no longer calls its tail")
                        detected.add((mod, caller))
                else:
                    detected.add((mod, name))
    assert detected, "detection pattern matched nothing — idiom drifted?"
    inventory = set(_BANDED_GUARDED) | set(_BANDED_EXCEPTIONS)
    unlisted = {n for _, n in detected} - inventory
    assert not unlisted, (
        f"new banded candidate-join builder(s) {sorted(unlisted)} not in "
        "the guard inventory — add a max_bucket-style guard (ON by "
        "default) or register an explicit exception with its reason"
    )
    for mod, name in detected:
        fn = vars(mod)[name]
        params = inspect.signature(fn).parameters
        if name in _BANDED_GUARDED:
            g = _BANDED_GUARDED[name]
            assert g in params, (name, g, "guard param missing")
            assert params[g].default is not None, (
                f"{name}: guard {g} exists but default is None — the "
                "r17 t77 lesson is that an OFF guard is a missing guard"
            )
        else:
            g, _reason = _BANDED_EXCEPTIONS[name]
            if g is not None:
                assert g in params, (name, g, "declared guard param gone")


def test_banded_compositions_inherit_guarded_pipelines():
    """The composing builders (ensemble / cross-source / edit-distance)
    must generate candidates THROUGH the inventoried pipelines, never
    with a private self-join of their own — inheritance is their guard."""
    import inspect

    from mapreduce_google_spark.operators import dedup

    for name in (
        "ensemble_dup_pairs",
        "cross_source_dup_matrix",
        "edit_distance_pairs",
    ):
        src = inspect.getsource(vars(dedup)[name])
        assert (
            "simhash_near_dup_pairs" in src or "ngram_jaccard_pairs" in src
        ), (name, "no inventoried candidate source")
        assert '.alias("a")' not in src, (
            name,
            "private self-join — must compose an inventoried pipeline",
        )
