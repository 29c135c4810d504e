"""``query_mix``: the analyst path, one closed-loop client.

One query is a builder call plus ``toPandas()``, over the registry's
``headline=True`` queries but the two costliest (:data:`LEFT_OUT`).
Set-up is the session start, a first-touch scan of every table and one
cold pass over the mix in registry order. That pass runs over a store
root private to the run, so its builder calls build every shared store
cold, as a user meets a new corpus version, and it takes the session's
first-use costs (code generation, the first Python worker). The timed
part then runs :data:`PASSES` warm passes, each in a seed-shuffled
order, and pools their latencies; it does not use ``--seconds``. A cold query's latency mostly measures
one-off work and swings with it, so the cold pass is set-up, not a
latency sample.

Every result of every pass is checked, untimed, against its query's
DuckDB oracle.
"""

from __future__ import annotations

import random
import statistics
import time

from perfbench import datagen
from perfbench.common import Run, dir_bytes, frame_hash, timing

#: Row counts of the generated tables. The repository's own bench reads
#: sf0.1, but one sf0.1 run takes about 110 s on a 4-core host, too long
#: for the number of runs a benchmark sweep makes (see README.md).
SF = "sf0.01"
#: Headliners left out of the mix: their cold store builds took 21 s of a
#: 59 s cold pass, which a benchmark sweep's time cannot hold (see README.md).
#: t09, t16 and t25 still build their stores cold.
LEFT_OUT = ("t12_revenue_rollup", "t22_minhash_lsh_pairs")
#: Warm passes a run times. A fixed count, not as many as fit in
#: ``--seconds``: later passes run warmer, so a faster host would also
#: time a warmer mix and overstate its own speed.
PASSES = 2


def _wrap_store_builder(run: Run, io_mod) -> None:
    """Time every ``io.adopt_or_build_bucketed_table`` call as a span that
    records whether the call built the store or adopted it. Callers look
    the function up on the module at call time, so they all see the
    wrapper."""
    orig = io_mod.adopt_or_build_bucketed_table

    def traced(spark, name, path, bucket_cols, num_buckets, build, *a, **kw):
        built = []

        def build_and_mark():
            built.append(True)
            return build()

        with run.tracer.span("io.adopt_or_build_bucketed_table", store=name) as sp:
            out = orig(spark, name, path, bucket_cols, num_buckets, build_and_mark, *a, **kw)
            sp.attrs["built"] = bool(built)
        return out

    io_mod.adopt_or_build_bucketed_table = traced


def _oracle_hashes(sf_dir: str, specs: dict) -> dict[str, tuple[int, str]]:
    import duckdb

    from mapreduce_google_spark.io import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {
            name: frame_hash(con.execute(spec.oracle).df())
            for name, spec in specs.items()
            if spec.oracle is not None
        }
    finally:
        con.close()


def _query(run: Run, spark, sf_dir: str, name: str, spec, timed: bool):
    """One query: builder call plus ``toPandas()``. Returns (result hash,
    builder seconds, total seconds, tracer seconds inside), or None if it
    raised."""
    tr = run.tracer
    run.attempted += 1
    with tr.span("query", op=name, query=name, timed=timed):
        try:
            q0, o0 = time.perf_counter(), tr.self_s
            with tr.span("queries.builder"):
                df = spec.builder(spark, sf_dir)
            q1 = time.perf_counter()
            with tr.span("queries.action"):
                pdf = df.toPandas()
            q2, o2 = time.perf_counter(), tr.self_s
        except Exception as exc:  # noqa: BLE001 — count it, keep serving
            run.fail(f"{name}: {type(exc).__name__}: {exc}")
            return None
    return frame_hash(pdf), q1 - q0, q2 - q0, o2 - o0


def run_query_mix(run: Run, get_spark, spark_conf: dict) -> None:
    from mapreduce_google_spark import io
    from mapreduce_google_spark.queries import REGISTRY

    tr = run.tracer
    rng = random.Random(run.seed)
    sf_dir = run.path("sf")
    datagen.star_schema(sf_dir, run.seed, SF, run.scale)
    specs = {n: s for n, s in sorted(REGISTRY.items()) if s.headline and n not in LEFT_OUT}
    if tr.enabled:
        _wrap_store_builder(run, io)
    results: list[tuple[str, tuple[int, str]]] = []  # (query, hash) to check

    t0 = time.perf_counter()
    with tr.span("session.get_spark", op="setup"):
        spark = run.spark = get_spark(**spark_conf)
    tr.attach(spark)
    t1 = time.perf_counter()
    with tr.span("io.table_warm", op="setup"):
        for t in io.TABLES:
            with tr.span("io.load_table", table=t):
                io.load_table(spark, sf_dir, t).count()
    t2 = time.perf_counter()
    for name, spec in specs.items():
        out = _query(run, spark, sf_dir, name, spec, timed=False)
        if out is not None:
            results.append((name, out[0]))
            run.extra[f"query_cold.{name}_s"] = out[2]
    t3 = time.perf_counter()
    run.setup_samples.append(t3 - t0)
    run.setup_trace_s = tr.self_s
    run.layer["session.get_spark_s"] = t1 - t0
    run.layer["io.table_warm_s"] = t2 - t1
    run.extra["query_cold_pass_s"] = t3 - t2
    run.layer["io.store_bytes_per_input_byte"] = dir_bytes(io.shared_store_root()) / max(
        1, dir_bytes(sf_dir)
    )

    per_query: dict[str, list[float]] = {name: [] for name in specs}
    passes: list[float] = []
    start, trace0 = time.perf_counter(), tr.self_s
    for _ in range(PASSES):
        p0 = time.perf_counter()
        order = list(specs)
        rng.shuffle(order)
        with tr.span("pass", op="pass"):
            for name in order:
                out = _query(run, spark, sf_dir, name, specs[name], timed=True)
                if out is None:
                    continue
                digest, builder_s, lat, traced = out
                results.append((name, digest))
                run.latencies.append(lat)
                run.op_trace_s.append(traced)
                run.extra.setdefault("builder_s", []).append(builder_s)
                per_query[name].append(lat)
        passes.append(time.perf_counter() - p0)
    measured = time.perf_counter() - start
    run.measured_trace_s = tr.self_s - trace0

    # correctness, untimed: every result of every pass against the oracle
    if run.inject_error and results:
        name, (rows, digest) = results[0]
        results[0] = (name, (rows + 1, "corrupted"))
    oracles = _oracle_hashes(sf_dir, specs)
    for name, got in results:
        if name in oracles and oracles[name] != got:
            run.fail(f"{name}: {got} != oracle {oracles[name]}")

    run.measured_s = measured
    run.ops_per_s = len(run.latencies) / measured
    run.extra.update(timing("query", run.latencies))
    run.extra["query_pass_s"] = statistics.median(passes)
    for name, xs in per_query.items():
        if xs:
            run.extra[f"query.{name}_s"] = statistics.median(xs)

    if tr.enabled:
        stores = tr.named("io.adopt_or_build_bucketed_table")
        run.layer["io.store_build_s"] = sum(s.wall for s in stores if s.attrs.get("built"))
        # per timed pass; its calls find every store built
        run.layer["io.store_adopt_s"] = sum(
            s.wall for s in stores if not s.attrs.get("built") and s.start >= start
        ) / len(passes)
        run.layer["queries.builder_s"] = statistics.median(run.extra["builder_s"])
        run.layer["queries.action_s"] = statistics.median(
            s.wall for s in tr.named("queries.action") if s.start >= start
        )
        for name in specs:
            run.layer[f"query.{name}_s"] = run.extra.get(f"query.{name}_s", 0.0)
        run.layer["_op_spans"] = [s for s in tr.named("query") if s.attrs.get("timed")]
