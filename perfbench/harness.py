"""Shared pieces of the workloads: run context, result shape, the
SEC quarter pipeline (ingest steps and their DuckDB expectations), the
metric names and small statistics."""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Context:
    spark: object
    tracer: Tracer
    scratch: str
    seed: int
    seconds: float
    smoke: bool
    t_start: float
    cores: int
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Result:
    e2e: dict
    attempted: int
    failed: int
    failures: list[str]


def catalog() -> dict:
    """Metric names and units, from BENCHMARK.json. What each metric
    measures and moves is documented in perfbench/metrics.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def e2e_metrics(setup_s: float, op_s: list[float], throughput: float) -> dict:
    """The end-to-end metrics every workload prints."""
    values = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(op_s) * 1000,
        "throughput_per_s": throughput,
    }
    units = {m["name"]: m["unit"] for m in catalog()["end_to_end"]}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def layer_metrics(layer: dict[str, float]) -> dict:
    """Every per-layer metric of BENCHMARK.json. One that this workload does
    not exercise reads 0."""
    out = {}
    for m in catalog()["per_layer"]:
        out[m["name"]] = {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
    unknown = set(layer) - set(out)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


def jvm_rss_peak_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(l for l in fh if l.startswith("VmHWM")).split()[1]
    return int(kb) / 1024


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run_loop(seconds: float, op, times: int = 2) -> list[float]:
    """Call ``op(i)``, which returns its own wall time, until the times
    add up to ``seconds`` and there are at least ``times`` of them."""
    out: list[float] = []
    while sum(out) < seconds or len(out) < times:
        out.append(op(len(out)))
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


# --- the SEC quarter pipeline -------------------------------------------


@dataclass
class SecRoots:
    typed: str
    facts: str
    docs: str
    extract: str
    ticker: str


def sec_roots(base: str, ticker: str) -> SecRoots:
    return SecRoots(
        typed=os.path.join(base, "typed"),
        facts=os.path.join(base, "facts"),
        docs=os.path.join(base, "docs"),
        extract=os.path.join(base, "extract"),
        ticker=ticker,
    )


def typed_table(spark, roots: SecRoots, table: str, quarter: str):
    from pyspark.sql import functions as F

    return spark.read.parquet(os.path.join(roots.typed, table)).where(
        F.col("source_file") == quarter
    )


def ingest_sec_quarter(spark, tracer: Tracer, roots: SecRoots, q) -> None:
    """One quarter through the RAW, DFT and JSON DAGs' steps, appending
    into the shared roots."""
    from dynaledger_spark.operators.backfill import append_quarter_facts
    from dynaledger_spark.operators.documents import assemble_documents
    from dynaledger_spark.sources.json_docs import write_documents
    from dynaledger_spark.sources.lookup import load_ticker
    from dynaledger_spark.sources.parquet_io import write_partitioned
    from dynaledger_spark.sources.tsv import extract_zip, ingest_quarter

    with tracer.span("sources.extract_zip", q.tag):
        members = extract_zip(q.zip_path, os.path.join(roots.extract, q.tag))
    with tracer.span("sources.typed_write", q.tag, spark_work=True):
        for table, df in ingest_quarter(spark, members, q.tag).items():
            write_partitioned(df, os.path.join(roots.typed, table), mode="append")
    with tracer.span("operators.facts", q.tag, spark_work=True):
        read = {t: typed_table(spark, roots, f"sec_{t}", q.tag) for t in ("num", "sub", "pre", "tag")}
        append_quarter_facts(read["num"], read["sub"], read["pre"], q.tag, roots.facts)
    with tracer.span("operators.documents", q.tag, spark_work=True):
        ticker = load_ticker(spark, roots.ticker)
        docs = assemble_documents(read["sub"], read["num"], read["tag"], read["pre"], ticker)
        write_documents(docs, os.path.join(roots.docs, q.tag))


def _duck_quarter(con: duckdb.DuckDBPyConnection, q) -> None:
    for name, path in q.tsv.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_csv('{path}', "
            "delim='\t', header=true, all_varchar=true, quote='\"')"
        )


def sec_expectations(q) -> dict:
    """What the engine must produce for quarter ``q``, computed by DuckDB
    straight from the generated TSVs."""
    con = duckdb.connect()
    try:
        _duck_quarter(con, q)
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        out = {
            "rows": {t: one(f"SELECT COUNT(*) FROM {t}") for t in q.tsv},
            "null_values": one("SELECT COUNT(*) FROM num WHERE TRY_CAST(value AS DOUBLE) IS NULL"),
            "documents": one(
                "SELECT COUNT(*) FROM sub WHERE TRY_STRPTIME(period, '%Y%m%d') IS NOT NULL"
            ),
        }
        # the fact model: num x sub on adsh, x pre on (adsh, tag), grouped
        # by its 12 columns, values summed through DECIMAL(27,6)
        facts = con.execute(
            """
            SELECT stmt, COUNT(*), SUM(CAST(total AS DECIMAL(38,6))) FROM (
              SELECT p.stmt,
                     CAST(SUM(CAST(TRY_CAST(n.value AS DOUBLE) AS DECIMAL(27,6)))
                          AS DOUBLE) AS total
              FROM num n JOIN sub s ON n.adsh = s.adsh
                         JOIN pre p ON n.adsh = p.adsh AND n.tag = p.tag
              WHERE p.stmt IN ('BS', 'IS', 'CF')
              GROUP BY n.adsh, s.cik, s.name, s.filed, s.fy, s.fp, n.tag, n.uom,
                       n.ddate, n.qtrs, p.stmt, p.plabel)
            GROUP BY stmt
            """
        ).fetchall()
        out["facts"] = {s: (n, Decimal(t)) for s, n, t in facts}
        # RAW statement request: sub x pre on adsh, x num on (adsh, tag, version)
        out["raw_rows"] = dict(
            con.execute(
                """
                SELECT p.stmt, COUNT(*) FROM sub s JOIN pre p ON s.adsh = p.adsh
                JOIN num n ON s.adsh = n.adsh AND p.tag = n.tag AND p.version = n.version
                GROUP BY p.stmt
                """
            ).fetchall()
        )
        # JSON flatten views: each num fact routed by its (adsh, tag) pre line
        out["json_rows"] = dict(
            con.execute(
                """
                SELECT p.stmt, COUNT(*) FROM num n
                JOIN pre p ON n.adsh = p.adsh AND n.tag = p.tag
                GROUP BY p.stmt
                """
            ).fetchall()
        )
        out["topk_tags"] = con.execute(
            "SELECT tag, COUNT(*) AS n FROM num GROUP BY tag ORDER BY n DESC, tag LIMIT 10"
        ).fetchall()
        out["sub_rows"] = {
            r[0]: r
            for r in con.execute(
                "SELECT adsh, CAST(cik AS BIGINT), name, form, CAST(period AS BIGINT) FROM sub"
            ).fetchall()
        }
        return out
    finally:
        con.close()


def check_sec_quarters(spark, roots: SecRoots, quarters, expected: dict) -> list[str]:
    """Compare what the pipeline wrote for each quarter with DuckDB's
    expectations; return one message per mismatch."""
    from pyspark.sql import functions as F

    fails = []
    counts = {}
    for table in ("sec_sub", "sec_tag", "sec_pre", "sec_num"):
        df = spark.read.parquet(os.path.join(roots.typed, table))
        for r in df.groupBy("source_file").count().collect():
            counts[(table, r[0])] = r[1]
    nulls = {
        r[0]: r[1]
        for r in spark.read.parquet(os.path.join(roots.typed, "sec_num"))
        .where(F.col("value").isNull())
        .groupBy("source_file")
        .count()
        .collect()
    }
    facts = {
        (r[0], r[1]): (r[2], r[3])
        for r in spark.read.parquet(roots.facts)
        .groupBy("source_file", "statement_type")
        .agg(F.count("*"), F.sum(F.col("total_value").cast("decimal(38,6)")))
        .collect()
    }
    for q in quarters:
        exp = expected[q.tag]
        for t in ("sub", "tag", "pre", "num"):
            got = counts.get((f"sec_{t}", q.tag))
            if got != exp["rows"][t] or got != q.rows[t]:
                fails.append(f"{q.tag} sec_{t}: {got} typed rows, generated {q.rows[t]}")
        if nulls.get(q.tag, 0) != q.dirty_values or q.dirty_values != exp["null_values"]:
            fails.append(f"{q.tag}: {nulls.get(q.tag, 0)} null values, {q.dirty_values} dirty")
        for stmt, (n, total) in exp["facts"].items():
            got = facts.get((q.tag, stmt))
            if got is None or got[0] != n or Decimal(got[1]) != total:
                fails.append(f"{q.tag} {stmt} facts {got} != DuckDB {(n, total)}")
        docs = spark.read.json(os.path.join(roots.docs, q.tag)).count()
        if docs != exp["documents"]:
            fails.append(f"{q.tag}: {docs} documents, DuckDB {exp['documents']}")
    return fails


INGEST_STEPS = {
    "sources.extract_zip": "sources.extract_zip_s",
    "sources.typed_write": "sources.typed_write_s",
    "operators.facts": "operators.facts_s",
    "operators.documents": "operators.documents_s",
}


def ingest_layer(ctx: Context, roots: SecRoots, traced_quarters) -> None:
    """Per-layer ingest numbers from the traced quarters' step spans."""
    tr, layer = ctx.tracer, ctx.layer
    tags = {q.tag for q in traced_quarters}
    layer["bench.ingest_quarter_s"] = median(
        s.dur for s in tr.named("bench.quarter") if s.rid in tags
    )
    for span_name, metric in INGEST_STEPS.items():
        spans = [s for s in tr.named(span_name) if s.rid in tags]
        layer[metric] = median(s.dur for s in spans)
        step = span_name.split(".")[1]
        if span_name == "sources.extract_zip":
            continue
        layer[f"{step}.tasks"] = median(s.stages.tasks for s in spans)
        layer[f"{step}.executor_run_s"] = median(
            s.stages.executor_run_ms / 1000 for s in spans
        )
        layer[f"{step}.shuffle_write_bytes"] = median(
            s.stages.shuffle_write_bytes for s in spans
        )
        layer[f"{step}.spill_bytes"] = median(s.stages.spill_bytes for s in spans)
        layer[f"{step}.slot_util"] = median(
            s.stages.executor_run_ms / 1000 / (s.dur * ctx.cores) for s in spans
        )
    layer["sources.typed_bytes_per_tsv_byte"] = median(
        sum(
            dir_bytes(os.path.join(roots.typed, t, f"source_file={q.tag}"))
            for t in ("sec_sub", "sec_tag", "sec_pre", "sec_num")
        )
        / q.tsv_bytes
        for q in traced_quarters
    )
    layer["sources.json_bytes_per_filing"] = median(
        dir_bytes(os.path.join(roots.docs, q.tag)) / q.rows["sub"]
        for q in traced_quarters
    )
