"""registry_headline: the 10 ``headline=True`` registry queries over
seeded tables, each run as ``spec.build`` and then a noop write, with
``clearCache`` between queries, as ``bench.py`` does.

One operation is one pass over the 10 queries; the seed orders each
pass. The reported pass time sums each query's median over the measured
passes, and the throughput is queries per second of that pass. Set-up
runs one cold pass (``bench.cold_op_ms``) that collects each result to
pandas instead of the noop write. Every run of a query also observes its
row count and an order-insensitive hash of its rows, which must repeat
across passes; after the measured passes each collected result is
compared with the query's DuckDB oracle, where one exists, off the clock.
"""

from __future__ import annotations

import gc
import math
import os
import time

import duckdb
import numpy as np

import harness
import tpchgen

SF = 0.004
MIN_PASSES = 3
SMOKE_SF = 0.0005
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def run_query(spark, tracer, spec, sf_dir: str, pass_id: str, collect: bool = False):
    """Build and noop-write one query, or collect it to pandas; return
    (wall s, rows, hash, collected frame or None)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rid = f"{pass_id}/{spec.name}"
    t0 = time.perf_counter()
    with tracer.span(f"plans.{spec.name}.build", rid, spark_work=True):
        df = spec.build(spark, sf_dir)
    obs = Observation(f"perfbench_{spec.name}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    )
    if tracer.enabled:
        t_plan = time.perf_counter()
        observed._jdf.queryExecution().executedPlan()
        tracer.spans[-1].attrs["plan_s"] = time.perf_counter() - t_plan
    pdf = None
    with tracer.span(f"plans.{spec.name}.exec", rid, spark_work=True):
        if collect:
            pdf = observed.toPandas()
        else:
            observed.write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    got = obs.get
    return wall, got["n"], got["h"], pdf


def _canonical(pdf) -> list[tuple]:
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>" if v is None else "<nan>"
        if isinstance(v, np.ndarray):
            v = v.tolist()
        return repr(v)

    cols = sorted(pdf.columns)
    return sorted(tuple(cell(v) for v in row) for row in pdf[cols].itertuples(index=False))


def run(ctx: harness.Context) -> harness.Result:
    from dynaledger_spark.plans.registry import load_all

    spark, tracer = ctx.spark, ctx.tracer
    traced_run, tracer.enabled = tracer.enabled, False
    sf_dir = os.path.join(ctx.scratch, "tables")
    tpchgen.write_tables(sf_dir, ctx.seed, SMOKE_SF if ctx.smoke else SF)
    t0 = time.perf_counter()
    registry = load_all()
    ctx.layer["plans.load_all_s"] = time.perf_counter() - t0
    specs = sorted((s for s in registry.values() if s.headline), key=lambda s: s.name)
    rng = np.random.default_rng([ctx.seed, 3])
    seen: dict[str, set] = {s.name: set() for s in specs}
    leaks: list[int] = []

    collected: dict = {}
    walls: dict[int, dict[str, float]] = {}  # pass -> query -> wall s

    def one_pass(i: int) -> float:
        total = 0.0
        for k in rng.permutation(len(specs)):
            spec = specs[k]
            wall, n, h, pdf = run_query(spark, tracer, spec, sf_dir, f"pass{i}", collect=i == 0)
            if pdf is not None:
                collected[spec.name] = pdf
            seen[spec.name].add((n, str(h)))
            walls.setdefault(i, {})[spec.name] = wall
            total += wall
            if tracer.enabled:
                gc.collect()  # lets the registry's release finalizers run
                leaks.append(spark.sparkContext._jsc.getPersistentRDDs().size())
            spark.catalog.clearCache()
        return total

    cold_s = one_pass(0)
    setup_s = time.perf_counter() - ctx.t_start
    # at least 3 passes, so one disturbed pass cannot move the median
    op_s = harness.run_loop(ctx.seconds, lambda i: one_pass(i + 1), times=MIN_PASSES)
    # A pass made of each query's median over the measured passes: a
    # disturbance to one query in one pass does not move it.
    pass_s = sum(
        harness.median(walls[i + 1][spec.name] for i in range(len(op_s))) for spec in specs
    )
    if traced_run:
        tracer.enabled = True
        traced = harness.run_loop(0, lambda i: one_pass(1000 + i), times=1)
        ctx.layer["bench.tracing_overhead_frac"] = harness.median(traced) / harness.median(op_s) - 1
        _layer(ctx, specs, cold_s, leaks)

    failures = [
        f"{name}: (rows, hash) differ across passes: {sorted(v)[:3]}"
        for name, v in seen.items()
        if len(v) != 1
    ]
    failures += _oracle_checks(specs, sf_dir, seen, collected)
    failed = len({f.split(":")[0] for f in failures})
    n_passes = 1 + len(op_s) + (1 if traced_run else 0)
    return harness.Result(
        e2e=harness.e2e_metrics(setup_s, [pass_s], len(specs) / pass_s),
        attempted=len(specs) * n_passes,
        failed=failed,
        failures=failures,
    )


def _oracle_checks(specs, sf_dir: str, seen, collected) -> list[str]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        fails = []
        for spec in specs:
            got = collected[spec.name]
            (n, _h), = seen[spec.name] if len(seen[spec.name]) == 1 else [(None, None)]
            if n is not None and len(got) != n:
                fails.append(f"{spec.name}: collected {len(got)} rows, observed {n}")
            if spec.oracle is None:
                continue
            want = con.execute(spec.oracle).df()
            if sorted(got.columns) != sorted(want.columns):
                fails.append(f"{spec.name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
            elif _canonical(got) != _canonical(want):
                fails.append(f"{spec.name}: rows differ from the DuckDB oracle "
                             f"({len(got)} vs {len(want)} rows)")
        return fails
    finally:
        con.close()


def _layer(ctx, specs, cold_s: float, leaks: list[int]) -> None:
    layer, tr = ctx.layer, ctx.tracer
    layer["bench.cold_op_ms"] = cold_s * 1000
    layer["plans.cached_rdds_after_release"] = max(leaks, default=0)
    for spec in specs:
        builds = tr.named(f"plans.{spec.name}.build")
        execs = tr.named(f"plans.{spec.name}.exec")
        q = spec.name
        layer[f"plans.{q}.build_s"] = harness.median(s.dur for s in builds)
        layer[f"plans.{q}.exec_s"] = harness.median(s.dur for s in execs)
        layer[f"plans.{q}.build_jobs"] = harness.median(s.stages.jobs for s in builds)
        layer[f"plans.{q}.shuffle_bytes"] = harness.median(
            b.stages.shuffle_write_bytes + e.stages.shuffle_write_bytes
            for b, e in zip(builds, execs)
        )
        layer[f"catalyst.{q}.plan_ms"] = harness.median(s.attrs["plan_s"] * 1000 for s in builds)
