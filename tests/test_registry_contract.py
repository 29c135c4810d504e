"""Registry meta-contract: invariants the driver's correctness gate
assumes, pinned so future query additions can't silently break them."""

from __future__ import annotations

import re

from mapreduce_google_spark.io import TABLES
from mapreduce_google_spark.queries import REGISTRY, REPROVE


def _tracked_correctness_files(repo: str) -> list[str]:
    """Git-tracked CORRECTNESS artifacts, derived here with a direct
    ``git ls-files`` call (NOT by importing the package's helper — these
    tests must stay an independent re-derivation of the policy). The
    driver's untracked round-boundary deposit is deliberately invisible:
    the window contract is a pure function of HEAD."""
    import os
    import subprocess

    out = subprocess.run(
        ["git", "ls-files", "--", "CORRECTNESS_r*.json"],
        cwd=repo,
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, "tests require a git checkout"
    return [os.path.join(repo, p) for p in out.stdout.split()]


def _green_names(artifact_path: str) -> list[str]:
    """Names whose artifact row is a FULL pass (rows+schema+hash all
    true) — the independent twin of queries._is_green_row. Red/err rows
    are NOT evidence: counting them let a failing entry (t40, r11) age
    out of the rotation exactly when it needed re-proving (VERDICT r11
    item 2)."""
    import json

    with open(artifact_path) as fh:
        rows = json.load(fh)
    return [
        name
        for name, row in rows.items()
        if isinstance(row, dict)
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    ]


def test_names_are_unique_and_well_formed():
    assert len(REGISTRY) == len(set(REGISTRY))
    for name in REGISTRY:
        assert re.fullmatch(r"t\d{2,3}b?_[a-z0-9_]+", name), name


def test_oracles_reference_only_known_tables():
    """Every FROM/JOIN target in an oracle must be a driver-registered
    view (or an inline subquery) — a typo'd table fails at grade time."""
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        ctes = set(
            re.findall(
                r"(?:WITH(?:\s+RECURSIVE)?|,)\s*([a-z_][a-z0-9_]*)\s*(?:\([^)]*\))?\s+AS\s*(?:MATERIALIZED\s*)?\(",
                spec.oracle,
                re.I,
            )
        )
        for tbl in re.findall(
            r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", spec.oracle, re.I
        ):
            assert tbl in TABLES or tbl in ctes, f"{name}: unknown table {tbl!r}"


def test_headline_queries_are_oracle_checked():
    """Bench queries must also be correctness-gated — a fast wrong answer
    is worse than a slow right one. Two approximate-by-construction
    exceptions, each with measured evidence instead of a SQL oracle:
    t22 (precision/recall vs the exact operator + t120 invariants) and
    t25 (recall vs exact t18, asserted in tests and reported by
    bench.py next to the exact number)."""
    approx_with_measured_evidence = {"t22_minhash_lsh_pairs", "t25_ivf_topk"}
    for name, spec in REGISTRY.items():
        if spec.headline:
            assert (
                spec.oracle is not None or name in approx_with_measured_evidence
            ), name


def test_every_query_declares_semantics():
    for name, spec in REGISTRY.items():
        assert spec.doc, f"{name} has no doc"
        assert spec.tags, f"{name} has no tags"


def test_builders_are_importable_functions():
    """Lambdas don't pickle and read poorly in COVERAGE.md — require
    named module-level builders."""
    for name, spec in REGISTRY.items():
        assert spec.builder.__name__ != "<lambda>", name


def test_driver_window_ordering():
    """The external harness checks only the FIRST 50 registry entries
    (CORRECTNESS_r01 evidence), so ordering is part of the contract:
    every window slot must be oracle-bearing (rows-only specs waste the
    slot) and iteration order must match DRIVER_WINDOW exactly.

    The r5 one-time exception for the rows-only trio (t64/t71/t82) is
    retired: their rows-only driver evidence was banked in
    CORRECTNESS_r05 and every future slot must buy a full hash check."""
    from mapreduce_google_spark.queries import DRIVER_WINDOW

    names = list(REGISTRY)
    assert len(DRIVER_WINDOW) == 50
    assert names[: len(DRIVER_WINDOW)] == list(DRIVER_WINDOW)
    for name in DRIVER_WINDOW:
        assert REGISTRY[name].oracle is not None, f"{name} wastes a window slot"


def test_staleness_budget():
    """Steady-state rotation budget (VERDICT r05 item 2), as an
    assertion rather than prose: with len(REGISTRY) entries (225 at the
    time of writing; the assertions below derive from the live count)
    and 47 rotating window slots per round, every oracle-bearing entry
    must be re-provable within <=5 rounds. Concretely: counting the CURRENT
    DRIVER_WINDOW as evidence for the upcoming round, no oracle-bearing
    entry's last-checked round may be more than 4 rounds behind it.
    Rows-only specs are exempt (a window slot can never buy them a hash
    row; their invariant twins carry the evidence and are themselves
    budgeted here)."""
    import os

    from mapreduce_google_spark.queries import DRIVER_WINDOW

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    rounds = []
    # committed history only — must agree with the window derivation,
    # which ignores the driver's untracked round-boundary deposit
    for f in _tracked_correctness_files(root):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds.append(rnd)
        for name in _green_names(f):  # green rows only — red is not evidence
            last[name] = max(last.get(name, 0), rnd)
    assert rounds, "no correctness history found"
    current = max(rounds) + 1
    for name in DRIVER_WINDOW:  # the upcoming round's evidence
        last[name] = current
    # derive the budget from the LIVE registry so registrations keep the
    # rotation math auditable: 47 rotating slots serve every
    # oracle-bearing non-canary entry stalest-first, so worst-case
    # staleness is ceil(rotating / 47) rounds (5 at 225 entries)
    n_rotating = (
        sum(1 for s in REGISTRY.values() if s.oracle is not None and not s.retired)
        - 3
    )
    budget = -(-n_rotating // 47)
    over = [
        f"{name} (last r{last[name]}, staleness {current - last[name]})"
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
        and not spec.retired  # retired twins left the rotation
        and name in last  # new entries have no history yet: the planner
        # policy (never-checked first) schedules them into the NEXT
        # window, asserted below
        and current - last[name] > budget - 1
    ]
    assert not over, f"entries exceed the {budget}-round staleness budget: {over}"

    # never-checked oracle-bearing entries must be few enough to all fit
    # in the next window's non-canary slots — otherwise evidence debt is
    # accumulating faster than the rotation can pay it down
    never = [
        name
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
        and not spec.retired
        and name not in last
        and name not in DRIVER_WINDOW
    ]
    assert len(never) <= 47, f"never-checked backlog outgrew one window: {never}"


def test_window_is_policy_output():
    """Structural pin of the derived window, re-derived HERE from the
    raw committed CORRECTNESS artifacts — not a tautological comparison
    with _compose_driver_window evaluated from the same files (ADVICE
    r9): a reintroduced hand-pasted literal AND a regression inside the
    policy function both fail these assertions."""
    import os

    from mapreduce_google_spark.queries import (
        DRIVER_WINDOW,
        WINDOW_CANARIES,
        WINDOW_SIZE,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # independent read of the history: only COMMITTED artifacts count —
    # the window consumes tracked files exclusively, so an untracked
    # round-boundary deposit sitting in the tree is ignored here exactly
    # as the derivation ignores it (VERDICT r10 item 1: asserting
    # tracked-ness of every on-disk artifact made this test red by
    # construction at every round boundary)
    last: dict[str, int] = {}
    for f in sorted(_tracked_correctness_files(repo)):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for name in _green_names(f):  # green rows only — red is not evidence
            last[name] = max(last.get(name, 0), rnd)
    assert last, "no correctness history found"

    # shape: 50 unique names, canaries first
    assert len(DRIVER_WINDOW) == WINDOW_SIZE
    assert len(set(DRIVER_WINDOW)) == WINDOW_SIZE
    assert DRIVER_WINDOW[: len(WINDOW_CANARIES)] == WINDOW_CANARIES

    # eligibility: every slot is an active oracle-bearing spec
    for name in DRIVER_WINDOW:
        spec = REGISTRY[name]
        assert spec.oracle is not None, f"rows-only spec in window: {name}"
        assert not spec.retired, f"retired spec in window: {name}"

    eligible = {
        n
        for n, s in REGISTRY.items()
        if s.oracle is not None and not s.retired and n not in WINDOW_CANARIES
    }
    inside = [n for n in DRIVER_WINDOW if n not in WINDOW_CANARIES]
    outside = eligible - set(inside)
    # evidence debt beats staleness: a never-checked entry may never be
    # left outside while a checked entry occupies a slot
    if any(n not in last for n in outside):
        assert all(n not in last for n in inside), (
            "never-checked entries left outside while checked entries "
            "hold window slots"
        )
    # the re-prove tier (r14): an entry whose implementation changed
    # after its last green outranks staleness — rederive it here from
    # the raw history + the declared REPROVE map and exempt it from the
    # stalest-first comparison below
    uncleared = {
        n for n in eligible if n in last and last[n] < REPROVE.get(n, 0)
    }
    assert uncleared <= set(inside), (
        "uncleared REPROVE entries left outside the window: "
        f"{sorted(uncleared - set(inside))}"
    )
    # stalest-first: every checked entry inside must be at least as
    # stale as every checked entry left outside (re-prove tier exempt)
    checked_in = [last[n] for n in inside if n in last and n not in uncleared]
    checked_out = [last[n] for n in outside if n in last]
    if checked_in and checked_out:
        assert max(checked_in) <= min(checked_out), (
            "window holds a fresher entry than one left outside"
        )


def test_untracked_boundary_deposit_is_ignored():
    """The exact round-boundary scenario that redded r7, r8 and r10:
    the driver deposits a fresh, NOT-yet-committed CORRECTNESS artifact,
    then the judge runs pytest in that tree. The derived history and the
    recomposed window must be byte-identical before and after the
    deposit — i.e. the derivation is a pure function of HEAD, so the
    working tree and a fresh clone always agree (VERDICT r10 item 1)."""
    import os

    from mapreduce_google_spark import queries as q

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    before_last = q._correctness_last_checked()
    before_window = q._compose_driver_window()
    assert before_last, "no correctness history found"

    fake = os.path.join(repo, "CORRECTNESS_r98.json")
    assert not os.path.exists(fake), "r98 sentinel artifact already exists"
    try:
        # name a real, currently-stale query so a glob-based derivation
        # WOULD change both the history and the window
        victim = before_window[-1]
        with open(fake, "w") as fh:
            fh.write(
                '{"%s": {"rows_match": true, "schema_match": true, '
                '"hash_match": true}}' % victim
            )
        assert q._correctness_last_checked() == before_last, (
            "untracked deposit leaked into the derived history"
        )
        assert q._compose_driver_window() == before_window, (
            "untracked deposit rotated the window"
        )
    finally:
        os.remove(fake)


def test_red_rows_are_not_staleness_evidence(tmp_path, monkeypatch):
    """VERDICT r11 item 2, the r11 t40 incident as a unit test: a
    tracked artifact row that is red/err (any of rows/schema/hash not
    true) must NOT advance that query's last-checked clock — otherwise
    a failing operator leaves the stalest-first rotation for up to 5
    rounds at the exact moment it most needs re-proving. Simulated by
    injecting a synthetic tracked artifact (via the file-list seam) in
    which a currently-scheduled query errs: its clock must not move and
    it must still hold a window slot."""
    import json
    import os

    from mapreduce_google_spark import queries as q

    before_last = q._correctness_last_checked()
    before_window = q._compose_driver_window()
    victim = before_window[-1]  # a rotating (non-canary) scheduled entry

    real_files = q._tracked_correctness_files(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    fake = tmp_path / "CORRECTNESS_r97.json"
    fake.write_text(
        json.dumps(
            {
                victim: {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": None,
                    "oracle_rows": None,
                    "err": "LOCATION_ALREADY_EXISTS (synthetic)",
                }
            }
        )
    )
    monkeypatch.setattr(
        q, "_tracked_correctness_files", lambda repo: real_files + [str(fake)]
    )
    assert q._correctness_last_checked() == before_last, (
        "an err row advanced the staleness clock"
    )
    after_window = q._compose_driver_window()
    assert victim in after_window, (
        "a red round evicted the failing query from the rotation"
    )
    assert after_window == before_window

    # and a GREEN r97 row for the same query must rotate it out — the
    # filter distinguishes red from green, it doesn't ignore the file
    fake.write_text(
        json.dumps(
            {victim: {"rows_match": True, "schema_match": True, "hash_match": True}}
        )
    )
    assert q._correctness_last_checked()[victim] == 97
    assert victim not in q._compose_driver_window()


def test_rotation_survives_future_round_boundaries():
    """Simulate TEN future round boundaries: at each one the current
    window lands as that round's CORRECTNESS artifact, the window
    recomposes from the updated history, and the staleness budget must
    hold. This is the structural proof that the self-rotating window
    ends the every-round-red alarm: no reachable history state can push
    an oracle-bearing entry past the budget, because stalest-first
    rotation always schedules the at-risk cohort next."""
    import copy

    from mapreduce_google_spark import queries as q

    last = copy.deepcopy(q._correctness_last_checked())
    assert last, "no correctness history found"
    current = max(last.values()) + 1
    reg = list(REGISTRY)
    order = {n: i for i, n in enumerate(reg)}
    oracle_bearing = [
        n
        for n in reg
        if REGISTRY[n].oracle is not None
        and not REGISTRY[n].retired
        and n not in q.WINDOW_CANARIES
    ]
    budget = -(-len(oracle_bearing) // (q.WINDOW_SIZE - len(q.WINDOW_CANARIES)))
    for rnd in range(current, current + 10):
        never = [n for n in oracle_bearing if n not in last]
        stale = sorted(
            (n for n in oracle_bearing if n in last),
            key=lambda n: (last[n], order[n]),
        )
        window = (list(q.WINDOW_CANARIES) + never + stale)[: q.WINDOW_SIZE]
        for name in window:  # the driver checks the window → evidence lands
            last[name] = rnd
        over = [
            f"{n} (last r{last[n]}, staleness {rnd + 1 - last[n]})"
            for n in oracle_bearing
            if n in last and rnd + 1 - last[n] > budget
        ]
        assert not over, f"round r{rnd} boundary would alarm: {over}"


def test_readme_registry_counts():
    """README's registry-capacity numbers must equal the live registry —
    they drifted twice (r7, r8 verdicts both flagged it); now they are
    pinned. When this fires, update the three README lines."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "README.md")) as fh:
        readme = fh.read()
    total = len(REGISTRY)
    active = sum(1 for s in REGISTRY.values() if not s.retired)
    oracle_active = sum(
        1 for s in REGISTRY.values() if s.oracle is not None and not s.retired
    )
    headroom = 3 + 47 * 5 - oracle_active
    retired = total - active
    assert f"{total} QuerySpecs ({active} active + {retired} retired" in readme
    assert f"{oracle_active}/{active} active queries are oracle-checked" in readme
    assert f"headroom: 238 − {oracle_active} = {headroom}" in readme

    # COVERAGE.md's closing paragraph was the last counts surface
    # without a pin — it drifted at r10 (t239 updated README only)
    with open(os.path.join(root, "COVERAGE.md")) as fh:
        coverage = fh.read()
    rows_only = active - oracle_active
    assert (
        f"{total} registered queries: {active} active "
        f"({oracle_active} oracle-checked, {rows_only} rows-only" in coverage
    ), "COVERAGE.md counts paragraph drifted from the live registry"
    assert f"and {retired} retired" in coverage.replace("\n", " "), (
        "COVERAGE.md retired count drifted"
    )


def test_oracles_are_nonvacuous_at_driver_scale():
    """Every oracle must return rows at sf0.01 (the driver's gate
    scale) — a hash match between two empty results proves nothing, and
    the r04 vacuity audit caught exactly one silent case (t163's
    absolute rare-token rule on the closed-vocabulary fixture).
    t02_grep is the single allowed empty (its non-vacuous twin is
    t02b). DuckDB-only, so the sweep is cheap."""
    import duckdb

    from mapreduce_google_spark.io import TABLES

    allowed_empty = {"t02_grep"}
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    empty = [
        name
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
        and duck.execute(f"SELECT count(*) FROM ({spec.oracle})").fetchone()[0]
        == 0
    ]
    duck.close()
    assert set(empty) <= allowed_empty, f"vacuous oracles: {empty}"


def test_rotation_headroom():
    """Registry end-game policy (VERDICT r07 item 3), as an assertion:
    the driver window rotates 47 non-canary slots with a 5-round
    staleness budget, so the hard capacity is 3 + 47*5 = 238
    oracle-bearing ACTIVE entries. Require >=5 slots of headroom so the
    ceiling can't be hit silently — when this fires, either stop
    registering or retire superseded twins (QuerySpec.retired=True, see
    README "Registry capacity"); r8 retired t37/t50/t155 in favor of
    t235/t33/t16."""
    capacity = 3 + 47 * 5
    active = sum(
        1 for s in REGISTRY.values() if s.oracle is not None and not s.retired
    )
    assert capacity - active >= 5, (
        f"only {capacity - active} driver-window slots of headroom left "
        f"({active}/{capacity} oracle-bearing active entries) — retire a "
        "superseded twin or stop registering (README: Registry capacity)"
    )
    # retirement must name a successor and keep local certification: a
    # retired spec still carries its oracle so test_queries_oracle covers it
    for name, spec in REGISTRY.items():
        if spec.retired:
            assert spec.oracle is not None, f"{name}: retired AND uncheckable"


def test_claimed_test_references_exist():
    """Every ``tests/xxx.py`` (optionally ``::test_name``) cited in
    package source — docstrings claiming "plan-gated in tests/..." and
    the like — must name a test file that exists and, when a specific
    test is named, a function defined in it. Pins the r9 t239 failure
    class (a docstring asserting a gate that was never written) forever
    (VERDICT r9 item 8)."""
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "mapreduce_google_spark")
    ref = re.compile(r"(tests/[A-Za-z0-9_]+\.py)(::([A-Za-z0-9_]+))?")
    problems = []
    for src in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        text = open(src).read()
        for m in ref.finditer(text):
            # reference-repo citations ("reference ``tests/test_worker_08
            # .py:249``") describe the OTHER repo's tests — not ours
            if "eference" in text[max(0, m.start() - 250) : m.start()]:
                continue
            path = os.path.join(repo, m.group(1))
            if not os.path.exists(path):
                problems.append(f"{src}: cites missing {m.group(1)}")
            elif m.group(3) and f"def {m.group(3)}(" not in open(path).read():
                problems.append(
                    f"{src}: cites {m.group(1)}::{m.group(3)} which is not defined"
                )
    assert not problems, "\n".join(problems)


def test_bench_inlines_latest_host_reference():
    """VERDICT r11 item 7: BENCH_rNN.json must carry the newest ABBA
    same-host control inline, so one artifact separates code delta from
    host drift. Pins bench._latest_host_reference against the committed
    artifacts without running the bench."""
    import glob
    import importlib.util
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_module", os.path.join(repo, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    got = bench._latest_host_reference()
    files = glob.glob(os.path.join(repo, "BENCH_host_reference_r*.json"))
    assert files, "host-reference artifacts missing"
    latest = max(
        files,
        key=lambda f: int(
            re.search(r"r(\d+)", os.path.basename(f)).group(1)
        ),
    )
    with open(latest) as fh:
        ref = json.load(fh)
    assert got["artifact"] == os.path.basename(latest)
    assert got["prev_tip_slot_values"] == ref["prev_tip_slot_values"]
    assert got["current_tree_slot_values"] == ref["current_tree_slot_values"]
    assert (
        got["prev_tip_total_on_that_host"] == ref["prev_tip_total_on_this_host"]
    )
    assert got["prev_tip_commit"] == ref["prev_tip_commit"]


def test_reprove_clears_within_one_round():
    """The REPROVE re-prove hook (VERDICT r13 missing #1): an entry
    whose default implementation changed must earn a driver green from
    a round >= the change round within ONE driver round of the change
    becoming windowable — it is slotted right after the never-checked
    tier, so surviving a full round unproven means the window composer,
    the driver, or the query itself is broken, and this test names it.
    Also pins the map's hygiene: only active oracle-bearing entries
    (rows-only specs can never earn the hash row a REPROVE slot exists
    to buy), rounds within the history's horizon."""
    import os

    from mapreduce_google_spark.queries import DRIVER_WINDOW

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    rounds = [0]
    for f in _tracked_correctness_files(root):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds.append(rnd)
        for name in _green_names(f):
            last[name] = max(last.get(name, 0), rnd)
    max_round = max(rounds)

    for name, rnd in REPROVE.items():
        spec = REGISTRY.get(name)
        assert spec is not None, f"REPROVE names unknown entry {name}"
        assert spec.oracle is not None and not spec.retired, (
            f"REPROVE entry {name} is rows-only or retired — a window "
            "slot cannot buy it a hash row; re-prove its invariant twin"
        )
        assert 1 <= rnd <= max_round + 1, (name, rnd, max_round)
        if last.get(name, 0) < rnd:  # uncleared → must hold a slot NOW
            assert name in DRIVER_WINDOW, (
                f"uncleared REPROVE entry {name} missing from the window"
            )
        if max_round >= rnd + 1:  # a full driver round has passed
            assert last.get(name, 0) >= rnd, (
                f"REPROVE entry {name} (changed r{rnd}) survived the "
                f"r{rnd + 1} driver round without a green on the new "
                "implementation — investigate before it coasts further"
            )


def test_builder_fingerprints_pin_reprove():
    """Any diff that changes a registered builder's implementation must
    repopulate REPROVE (VERDICT r13 missing #1): every active
    oracle-bearing entry's implementation-closure fingerprint
    (tools/reprove.py — builder source + transitively referenced
    package functions/classes + dispatch constants + oracle SQL) must
    match the committed pin in tools/builder_fingerprints.json.
    Refreshing a pin goes through `python tools/reprove.py --pin NAME`,
    which refuses to overwrite a changed pin unless queries.REPROVE
    schedules the entry for the upcoming driver round — so the only
    green path from 'edited a builder' to 'suite passes' runs through a
    REPROVE entry (or an explicit, ledger-diff-visible --force)."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import reprove
    finally:
        sys.path.pop(0)

    ledger = reprove.load_ledger()
    active = reprove.active_specs()
    assert set(ledger) == set(active), (
        "fingerprint ledger out of sync with the active registry — run "
        f"python tools/reprove.py --pin-all; missing="
        f"{sorted(set(active) - set(ledger))[:5]} stale="
        f"{sorted(set(ledger) - set(active))[:5]}"
    )
    drifted = reprove.drift()
    assert not drifted, (
        "builder implementations changed without refreshing their pins "
        "(add the entry to queries.REPROVE for the upcoming round, then "
        "python tools/reprove.py --pin "
        f"{','.join(sorted(drifted))})"
    )


def test_builder_fingerprint_closure_is_deep():
    """The fingerprint is only as good as its closure resolution: pin
    that t33's fingerprint covers the dispatcher, ALL THREE dispatch
    targets, and (transitively through the stores form) the io-layer
    store builder — i.e. that an edit to any of them drifts the pin.
    (A regression here would quietly shrink every fingerprint's
    coverage.)"""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import reprove
    finally:
        sys.path.pop(0)

    parts = reprove.fingerprint_parts(REGISTRY["t33_asof_latest_order"])
    rel = "mapreduce_google_spark.operators.relational"
    for key in (
        f"{rel}.asof_latest_order",
        f"{rel}.asof_latest_order_stores",
        f"{rel}.asof_latest_order_pandas",
        "mapreduce_google_spark.io.bucketed_fact_table",
        "__oracle__",
    ):
        assert key in parts, (key, sorted(parts)[:20])
    # determinism: two computations agree (repr-fallback objects with
    # memory addresses in their repr would break pinning)
    spec = REGISTRY["t33_asof_latest_order"]
    assert reprove.builder_fingerprint(spec) == reprove.builder_fingerprint(
        spec
    )


def test_fingerprint_ignores_runtime_memos_but_keeps_configs():
    """The r14 gate saw 9 entries 'drift' MID-SUITE with zero source
    edits: private module-level memo sets (_SKEW_PROFILED, _UPSERTED,
    _DV_DELETED, _REGISTERED) were fingerprinted as constants and their
    repr changed as queries executed. Pin both sides of the fix's
    convention: populating a memo must NOT move the fingerprint, while
    public mutable configs (LANG_MARKERS) and private immutable
    constants (_PRIME31) must stay inside the closure so edits to them
    still drift the pin."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import reprove
    finally:
        sys.path.pop(0)

    import mapreduce_google_spark.operators.dedup as dedup_mod

    spec = REGISTRY["t21_ngram_jaccard_pairs"]
    before = reprove.builder_fingerprint(spec)
    parts = reprove.fingerprint_parts(spec)
    assert "const _SKEW_PROFILED" not in parts, sorted(parts)
    assert "const _PRIME31" in reprove.fingerprint_parts(
        REGISTRY["t120_lsh_precision_invariants"]
    )
    assert "const LANG_MARKERS" in reprove.fingerprint_parts(
        REGISTRY["t26_language_id"]
    )
    sentinel = ("fingerprint-memo-sentinel", 0, None, 0)
    dedup_mod._SKEW_PROFILED.add(sentinel)
    try:
        assert reprove.builder_fingerprint(spec) == before
    finally:
        dedup_mod._SKEW_PROFILED.discard(sentinel)


def test_fingerprint_covers_codecs_submodule_constants():
    """ADVICE r14: narrowing the memo exclusion to sets is only half
    the fix — the multimodal builders reach :mod:`operators.codecs`
    through an IN-BODY ``from mapreduce_google_spark.operators import
    codecs``, and the r14 resolver only saw that submodule if some
    earlier code had imported it (a package attribute appears on first
    import), so the ENTIRE codecs module — kernels and the private
    dict constant _PNG_CHANNELS — sat outside every multimodal
    fingerprint. Pin that the closure now covers both, so a codecs
    edit drifts the pins the way a _PRIME31 edit does."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import reprove
    finally:
        sys.path.pop(0)

    parts = reprove.fingerprint_parts(REGISTRY["t185_header_dims"])
    for key in (
        "const _PNG_CHANNELS",
        "mapreduce_google_spark.operators.codecs.parse_image_dims",
        "mapreduce_google_spark.operators.codecs.sniff_format",
    ):
        assert key in parts, (key, sorted(parts))
    assert "const _PNG_CHANNELS" in reprove.fingerprint_parts(
        REGISTRY["t121_image_dims"]
    )
    # the WAV path rides the same pattern
    assert (
        "mapreduce_google_spark.operators.codecs.wav_samples"
        in reprove.fingerprint_parts(REGISTRY["t128_wav_frame_stats"])
    )


def test_fingerprints_do_not_depend_on_checkout_path():
    """A pin must hold in every checkout: a path constant built from
    ``__file__`` (``operators/pipe.ASSETS``, read by t20) enters the
    fingerprint relative to the repo, so no active entry's fingerprint
    parts contain the repo's absolute path."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import reprove
    finally:
        sys.path.pop(0)

    assert "const ASSETS" in reprove.fingerprint_parts(
        REGISTRY["t20_pipe_word_count"]
    )
    leaking = {
        name: [k for k, v in reprove.fingerprint_parts(spec).items() if repo in v]
        for name, spec in reprove.active_specs().items()
    }
    assert not {n: ks for n, ks in leaking.items() if ks}


def test_bench_payload_survives_stdout_tail_truncation():
    """VERDICT r13 item 5: the driver records only the last ~2000 chars
    of bench stdout, and BENCH_r13.json lost the per-query medians
    (only spread survived). Pin the structural fix without running the
    bench: in bench.py's payload literal the tail-critical keys
    (queries/value/metric) are declared AFTER the verbose provenance
    fields (spread/warmup/host_reference), and the full payload is also
    written to BENCH_full_latest.json."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "bench.py")) as fh:
        src = fh.read()
    assert "BENCH_full_latest.json" in src
    start = src.find("payload = (")  # skip the docstring's example JSON
    assert start != -1, "bench.py payload literal not found"

    def pos(key: str) -> int:
        i = src.find(f'"{key}":', start)
        assert i != -1, f"bench payload lost field {key}"
        return i

    for verbose in ("spread_min_max", "warmup_s", "host_reference"):
        for critical in ("queries", "value", "metric"):
            assert pos(verbose) < pos(critical), (
                f"tail-critical '{critical}' prints before verbose "
                f"'{verbose}' — a truncated stdout tail would lose it"
            )
