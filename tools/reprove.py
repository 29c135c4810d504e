"""Builder implementation fingerprints — the enforcement arm of the
``queries.REPROVE`` re-prove discipline (VERDICT r13 missing #1).

The driver window composer keys evidence debt on last-GREEN round, so a
query whose DEFAULT implementation changed could otherwise coast on a
green earned by the OLD code for the full 5-round staleness budget.
``REPROVE`` is the declared fix; this module makes forgetting it a
named test failure: every active oracle-bearing registry entry has a
pinned implementation fingerprint in ``tools/builder_fingerprints.json``
and ``tests/test_registry_contract.py::test_builder_fingerprints_pin_reprove``
fails any entry whose live fingerprint differs from its pin without a
REPROVE entry scheduled for the upcoming driver round.

A fingerprint is the md5 over:

* the builder callable's own source;
* the source of every function/class it references, transitively,
  restricted to the ``mapreduce_google_spark`` package (names are
  resolved through the referencing function's globals, through
  referenced package modules' attributes, through default-argument
  values and through closure cells — the registration patterns the
  registry actually uses);
* the repr of every module-level plain-data constant those functions
  read, with a path inside the checkout made relative to it (dispatch
  thresholds — e.g. ``CLI_LOOKUP_DF_THRESHOLD``, or the
  retired ``TOPK_WINDOW_STORE_MIN_ROWS`` while it lived — change the
  default path without touching any function body);
* the entry's oracle SQL (an oracle edit changes what "green" means).

Limitations, by design: methods resolved off instances at runtime and
data-driven dispatch through dicts of callables are invisible — the
registry's builders are plain functions/lambdas over module-level
operator functions, and the pin exists to catch the common case, not to
be a bytecode verifier.

CLI::

    python tools/reprove.py --check           # exit 1 + diff on drift
    python tools/reprove.py --pin t33_asof_latest_order,t18_cosine_topk
    python tools/reprove.py --pin-all         # (re)write every pin
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:  # runnable from any cwd, like driver_sim.py
    sys.path.insert(0, REPO)
LEDGER = os.path.join(REPO, "tools", "builder_fingerprints.json")
PKG = "mapreduce_google_spark"

_PLAIN = (int, float, str, bool, bytes, tuple, list, dict, set, frozenset)
#: private SET globals are EXCLUDED from const parts: by repo
#: convention those are process-lifetime memos (_SKEW_PROFILED,
#: _UPSERTED, _DV_DELETED, _REGISTERED — populated as queries run), so
#: including their repr made the fingerprint depend on what had already
#: EXECUTED in the process — 9 entries "drifted" mid-suite in the r14
#: gate with zero source edits. The exclusion is deliberately NARROW
#: (ADVICE r14): every runtime memo in the package is a set, while
#: private dicts/lists are semantic constants (_PNG_CHANNELS,
#: _MARKER_SQL) whose edits must drift pins exactly like _PRIME31 and
#: LANG_MARKERS do — the r14 tuple (list, dict, set) silently dropped
#: them from coverage. A future dict-shaped memo must either become a
#: set keyed on a composite, or carry a ``_MEMO`` name suffix and an
#: entry in the tuple-widening discussion here — not slip in unseen.
#: tests/test_registry_contract.py pins both sides of the convention.
_MUTABLE = (set,)


def _in_pkg(obj: object) -> bool:
    mod = getattr(obj, "__module__", None)
    return isinstance(mod, str) and mod.split(".")[0] == PKG


def _iter_codes(code: types.CodeType):
    yield code
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            yield from _iter_codes(c)


def _referenced(fn: types.FunctionType) -> list[tuple[str, object]]:
    """(name, object) pairs a function references: global names (from
    its code object and every nested lambda/comprehension), names
    resolved as attributes of referenced package modules — including
    modules named by FUNCTION-LOCAL ``from pkg.mod import name``
    statements (the dotted module path appears in co_names; without
    chasing it, a builder that imports its store helper inside the
    function body — the io-layer pattern every store-backed default
    uses — would keep that helper OUT of its fingerprint, so an io.py
    edit could change default results without drifting any pin) —
    callable default-argument values, and closure-cell contents."""
    import importlib
    import importlib.util

    import dis

    g = getattr(fn, "__globals__", {})
    names: set[str] = set()
    #: bare non-package IMPORT_NAME operands — an in-body ``import io``
    #: / ``import json`` puts the bare name in co_names unresolved, and
    #: the find_spec probe below would then misresolve it to a
    #: same-named PACKAGE submodule (mapreduce_google_spark.io),
    #: pulling an unrelated module into the fingerprint (ADVICE r15 —
    #: over-coverage only, but it charges spurious drift against
    #: REPROVE slots). IMPORT_NAME vs IMPORT_FROM is the reliable
    #: discriminator: ``from mapreduce_google_spark.operators import
    #: codecs`` (the pattern the fixed-point resolution exists for)
    #: makes "codecs" an IMPORT_FROM operand — NOT excluded — even
    #: though stdlib ``codecs`` exists, so a sys.modules check would
    #: reopen the r15 blind spot that skip avoids.
    #:
    #: Tracked PER CODE OBJECT (ADVICE r16): the exclusion only holds
    #: inside code objects that themselves import the bare name — in
    #: the importing code the name is a local binding, so its co_names
    #: entry comes from the import instruction alone. A DIFFERENT code
    #: object of the same function (the body vs a nested lambda) that
    #: references the name WITHOUT importing it can only mean a package
    #: submodule reached as a module attribute, and excluding it
    #: function-wide would silently drop that submodule from the
    #: fingerprint (under-coverage — worse than the over-coverage the
    #: r15 fix removed). A name is excluded iff every code object that
    #: mentions it also imports it.
    toplevel_imports: set[str] = set()
    referenced_without_import: set[str] = set()
    for code in _iter_codes(fn.__code__):
        names.update(code.co_names)
        bare_here: set[str] = set()
        for ins in dis.get_instructions(code):
            if ins.opname == "IMPORT_NAME":
                operand = str(ins.argval)
                if "." not in operand and operand.split(".")[0] != PKG:
                    bare_here.add(operand)
        toplevel_imports.update(bare_here)
        referenced_without_import.update(set(code.co_names) - bare_here)
    toplevel_imports -= referenced_without_import
    # sorted: set iteration is hash-seed-dependent across processes, and
    # pkg_mods ORDER decides which module wins an ambiguous attribute
    # resolution below — the fingerprint must not depend on the seed
    direct = {n: g[n] for n in sorted(names) if n in g}
    pkg_mods = [
        v
        for v in direct.values()
        if isinstance(v, types.ModuleType) and v.__name__.split(".")[0] == PKG
    ]
    for n in sorted(names):
        # dotted co_names entries are IMPORT_NAME operands of in-body
        # import statements; only package-internal modules are chased
        if n.split(".")[0] == PKG:
            try:
                pkg_mods.append(importlib.import_module(n))
            except ImportError:  # pragma: no cover - torn import path
                continue
    out: list[tuple[str, object]] = list(direct.items())
    # fixed point: a name can resolve to a package SUBMODULE (the
    # ``from mapreduce_google_spark.operators import codecs`` in-body
    # pattern binds ``codecs`` as an attribute of the operators
    # package) — that submodule must join pkg_mods so the names read
    # THROUGH it (codecs.parse_image_dims) resolve too. r14's single
    # pass dropped the module object on the floor, keeping the entire
    # codecs module out of every multimodal fingerprint (ADVICE r14).
    unresolved = sorted(names - set(direct) - toplevel_imports)
    resolved: set[str] = set()
    _missing = object()
    changed = True
    while changed:
        changed = False
        for n in unresolved:
            if n in resolved:
                continue
            for m in pkg_mods:  # attribute calls: rel_ops.revenue_rollup(...)
                obj = getattr(m, n, _missing)
                if (
                    obj is _missing
                    and "." not in n  # dotted names are IMPORT_NAME
                    # operands, already chased into pkg_mods above
                    and getattr(m, "__path__", None)
                ):
                    # a submodule that nothing has imported yet in this
                    # process is invisible as a package attribute, so a
                    # plain hasattr() made the closure depend on IMPORT
                    # ORDER (the r14 resolver saw operators.codecs only
                    # if some earlier query had touched it) — probe the
                    # spec finder instead
                    try:
                        spec_found = (
                            importlib.util.find_spec(f"{m.__name__}.{n}")
                            is not None
                        )
                    except (ImportError, ValueError):
                        spec_found = False
                    if spec_found:
                        obj = importlib.import_module(f"{m.__name__}.{n}")
                if obj is _missing:
                    continue
                resolved.add(n)
                if isinstance(obj, types.ModuleType):
                    if obj.__name__.split(".")[0] == PKG and all(
                        obj is not pm for pm in pkg_mods
                    ):
                        pkg_mods.append(obj)
                        changed = True
                else:
                    out.append((f"{m.__name__}.{n}", obj))
                break
    for d in fn.__defaults__ or ():
        if callable(d):
            out.append((getattr(d, "__qualname__", "default"), d))
    for cell in fn.__closure__ or ():
        try:
            v = cell.cell_contents
        except ValueError:  # pragma: no cover - still-building cell
            continue
        if callable(v):
            out.append((getattr(v, "__qualname__", "cell"), v))
    return out


def _repo_relative(obj: object) -> object:
    """A path constant inside the checkout, relative to it: a constant
    such as ``operators/pipe.ASSETS`` is built from ``__file__``, and
    its absolute form would make the pin hold in one checkout only."""
    if isinstance(obj, str) and obj.startswith(REPO + os.sep):
        return os.path.relpath(obj, REPO)
    return obj


def _source_of(obj: object) -> str:
    try:
        return inspect.getsource(obj)
    except (OSError, TypeError):  # builtins, C extensions
        return repr(obj)


def builder_fingerprint(spec) -> str:
    """md5 hex of the spec's resolved implementation closure (module
    docstring above defines the closure)."""
    parts = fingerprint_parts(spec)
    blob = "\x00".join(f"{k}\x01{v}" for k, v in sorted(parts.items()))
    return hashlib.md5(blob.encode()).hexdigest()


def fingerprint_parts(spec) -> dict[str, str]:
    """The labelled sources/constants feeding the fingerprint — exposed
    so tests can pin WHAT the closure resolution finds (e.g. that t33's
    fingerprint covers all three dispatch targets and the io-layer
    store builder they transitively reference), which is the
    property that makes a drift test meaningful."""
    parts: dict[str, str] = {"__oracle__": spec.oracle or ""}
    stack: list[types.FunctionType] = [spec.builder]
    seen: set[int] = set()
    while stack:
        fn = stack.pop()
        if id(fn) in seen or not isinstance(fn, types.FunctionType):
            continue
        seen.add(id(fn))
        key = f"{getattr(fn, '__module__', '?')}.{fn.__qualname__}"
        parts[key] = _source_of(fn)
        for name, obj in _referenced(fn):
            if isinstance(obj, types.FunctionType) and _in_pkg(obj):
                stack.append(obj)
            elif isinstance(obj, type) and _in_pkg(obj):
                parts[f"class {obj.__module__}.{obj.__qualname__}"] = (
                    _source_of(obj)
                )
            elif isinstance(obj, _PLAIN) or obj is None:
                if isinstance(obj, _MUTABLE) and name.rsplit(".", 1)[
                    -1
                ].startswith("_"):
                    continue  # private mutable global = runtime memo
                parts[f"const {name}"] = repr(_repo_relative(obj))
    return parts


def active_specs() -> dict[str, object]:
    """The fingerprint-pinned population: active oracle-bearing entries
    (rows-only specs never earn a hash row, so a stale pin cannot hide
    evidence debt for them; their invariant twins are pinned)."""
    from mapreduce_google_spark.queries import REGISTRY

    return {
        n: s
        for n, s in REGISTRY.items()
        if s.oracle is not None and not s.retired
    }


def load_ledger() -> dict[str, str]:
    try:
        with open(LEDGER) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def drift() -> dict[str, tuple[str | None, str]]:
    """name -> (pinned_or_None, live) for every active entry whose live
    fingerprint differs from its pin (or that has no pin)."""
    ledger = load_ledger()
    out: dict[str, tuple[str | None, str]] = {}
    for n, s in active_specs().items():
        live = builder_fingerprint(s)
        if ledger.get(n) != live:
            out[n] = (ledger.get(n), live)
    return out


def upcoming_round() -> int:
    """The round the NEXT committed CORRECTNESS artifact will carry —
    max committed round + 1 (the round currently being built)."""
    import re
    import subprocess

    out = subprocess.run(
        ["git", "ls-files", "--", "CORRECTNESS_r*.json"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    rounds = [int(m.group(1)) for m in re.finditer(r"r(\d+)", out.stdout)]
    return (max(rounds) if rounds else 0) + 1


def pin(names: list[str] | None = None, force: bool = False) -> None:
    """Refresh pins. Overwriting an EXISTING different pin is refused
    unless the entry is scheduled in ``queries.REPROVE`` for the
    upcoming driver round — re-pinning is how an implementation change
    becomes invisible, so the tool is where the discipline bites.
    ``force`` bypasses for provably-cosmetic edits (the committed ledger
    diff still records that the bypass happened)."""
    from mapreduce_google_spark.queries import REPROVE

    ledger = load_ledger()
    specs = active_specs()
    targets = names if names is not None else sorted(specs)
    nxt = upcoming_round()
    for n in targets:
        if n not in specs:
            raise SystemExit(f"not an active oracle-bearing entry: {n}")
        live = builder_fingerprint(specs[n])
        old = ledger.get(n)
        if old is not None and old != live and not force:
            if REPROVE.get(n, 0) < nxt:
                raise SystemExit(
                    f"{n}: implementation fingerprint changed but "
                    f"queries.REPROVE does not schedule it for the "
                    f"upcoming round r{nxt} — add REPROVE[{n!r}] = {nxt} "
                    "first (or --force for a provably cosmetic edit)"
                )
        ledger[n] = live
    ledger = {n: ledger[n] for n in sorted(ledger) if n in specs}
    with open(LEDGER, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main(argv: list[str]) -> int:
    if argv[:1] == ["--check"]:
        d = drift()
        for n, (pinned, live) in sorted(d.items()):
            print(f"DRIFT {n}: pinned={pinned} live={live}")
        print(f"{len(d)} drifted of {len(active_specs())} active entries")
        return 1 if d else 0
    force = "--force" in argv
    argv = [a for a in argv if a != "--force"]
    if argv[:1] == ["--pin-all"]:
        pin(None, force=force)
        print(f"pinned {len(active_specs())} entries -> {LEDGER}")
        return 0
    if argv[:1] == ["--pin"] and len(argv) == 2:
        names = [n for n in argv[1].split(",") if n]
        pin(names, force=force)
        print(f"pinned {len(names)} entries -> {LEDGER}")
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
