"""dashboard_mix: two closed-loop HTTP clients, no think time, against
SecHttpService on 127.0.0.1, over two quarters ingested during set-up.

Set-up is the pipeline operator's side: two seeded quarter ZIPs go
through extract, typed write, facts and documents, appended into the
same roots (the RAW, DFT and JSON DAGs). Its output is checked against
DuckDB, and the traced run gives the ingest steps' per-layer numbers
from the second, warm quarter.

The route mix follows the reference dashboard's documented calls
(SURVEY.md §3.1, §3.2): its statement page sends one
/get-financial-data per submit and does everything else client-side;
its SQL page sends the textarea's query to /execute-custom-query (here
a top-k; /query-data, a point lookup, is the GET twin).
/check-availability and /get-table-info are the API's metadata routes,
which no documented UI flow calls. No record says how often users do
each, so the shares are assumed: every block of ten requests holds six
statement requests (two each from RAW, FACT TABLES and JSON), one top-k,
one point lookup, one availability probe and one table-info request.
With statements the majority, the median request is a statement
request, the dashboard's main cost.

The traced run repeats the untraced run's request sequence three times:
as direct SecEngine calls from two threads, first untraced and then with
spans around each layer call, and then over HTTP.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass

import numpy as np

import harness
import secgen
from spans import Tracer

NUM_ROWS = 15_000
SMOKE_NUM_ROWS = 3_000
CLIENTS = 2
QUARTERS = ("2024Q1", "2024Q2")
MISSING_QUARTER = ("2023", "Q4")
# One block of requests: (kind, variant); see the module docstring. The
# availability and table-info requests take their variants in turn from
# block to block; the seed orders each block and picks quarters,
# statement types and filings.
BLOCK = [("statement", s) for s in ("RAW", "FACT TABLES", "JSON") for _ in range(2)] + [
    ("topk", ""), ("point", ""), ("availability", None), ("table_info", None)]
VARIANTS = {"availability": ("hit", "miss"), "table_info": ("RAW", "JSON", "FACT TABLES")}
STATEMENTS = {  # data_type -> stmt code, per source
    "RAW": {"Balance Sheet": "BS", "Cash Flow": "CF"},  # RAW maps IS to 'IC'
    "FACT TABLES": {"Balance Sheet": "BS", "Income Statement": "IS", "Cash Flow": "CF"},
    "JSON": {"Balance Sheet": "BS", "Income Statement": "IS", "Cash Flow": "CF"},
}
ROUTE_KEY = {"RAW": "raw", "FACT TABLES": "fact", "JSON": "json"}


@dataclass
class Request:
    kind: str  # a BLOCK entry
    route: str  # api.rows_returned.<route>
    method: str
    path: str
    params: dict
    body: dict | None = None
    expect: object = None  # row count, or the exact rows


@dataclass
class Reply:
    req: Request
    latency_s: float
    status: int
    rows: object  # what _check compares with req.expect
    nbytes: int = 0
    body: bytes | None = None  # HTTP replies are parsed after the loop

    def parse(self) -> "Reply":
        if self.body is not None:
            payload = json.loads(self.body) if self.status == 200 else None
            self.rows, self.body = _rows_of(self.req, payload), None
        return self


@dataclass
class Served:
    engine: object
    port: int
    expected: dict
    quarters: list
    roots: harness.SecRoots


def make_requests(seed: int, served: Served, n: int) -> list[Request]:
    rng = np.random.default_rng([seed, 7])
    adshs = {tag: sorted(exp["sub_rows"]) for tag, exp in served.expected.items()}
    out: list[Request] = []
    for b in range(-(-n // len(BLOCK))):
        for k in rng.permutation(len(BLOCK)):
            kind, variant = BLOCK[k]
            if kind in VARIANTS:
                variant = VARIANTS[kind][b % len(VARIANTS[kind])]
            q = served.quarters[rng.integers(len(served.quarters))]
            exp = served.expected[q.tag]
            year, quarter = str(q.year), f"Q{q.qnum}"
            if kind == "statement":
                source = variant
                dtype = list(STATEMENTS[source])[rng.integers(len(STATEMENTS[source]))]
                stmt = STATEMENTS[source][dtype]
                expect = {
                    "RAW": lambda: exp["raw_rows"][stmt],
                    "FACT TABLES": lambda: exp["facts"][stmt][0],
                    "JSON": lambda: exp["json_rows"][stmt],
                }[source]()
                out.append(Request(kind, ROUTE_KEY[source], "GET", "/get-financial-data",
                                   dict(year=year, quarter=quarter, data_type=dtype, source=source),
                                   expect=expect))
            elif kind == "availability":
                hit = variant == "hit"
                y, qq = (year, quarter) if hit else MISSING_QUARTER
                out.append(Request(kind, "availability", "GET", "/check-availability",
                                   dict(source="RAW", year=y, quarter=qq),
                                   expect={"available": hit}))
            elif kind == "table_info":
                source = variant
                out.append(Request(kind, "table_info", "GET", "/get-table-info",
                                   dict(data_source=source, year=year, quarter=quarter),
                                   expect={"RAW": 4, "JSON": 1, "FACT TABLES": 3}[source]))
            elif kind == "topk":
                sql = ("SELECT tag, COUNT(*) AS n FROM sec_num "
                       f"WHERE source_file = '{q.tag}' GROUP BY tag ORDER BY n DESC, tag LIMIT 10")
                out.append(Request(kind, "topk", "POST", "/execute-custom-query",
                                   dict(data_source="RAW"), body={"query": sql},
                                   expect=[{"tag": t, "n": n} for t, n in exp["topk_tags"]]))
            else:
                adsh = adshs[q.tag][rng.integers(len(adshs[q.tag]))]
                sql = ("SELECT adsh, cik, name, form, period FROM sec_sub "
                       f"WHERE adsh = '{adsh}'")
                a, cik, name, form, period = exp["sub_rows"][adsh]
                out.append(Request(kind, "point", "GET", "/query-data", dict(query=sql),
                                   expect=[dict(adsh=a, cik=cik, name=name, form=form, period=period)]))
    return out[:n]


# --- the two clients ----------------------------------------------------


def http_call(port: int, req: Request) -> Reply:
    url = f"http://127.0.0.1:{port}{req.path}?{urllib.parse.urlencode(req.params)}"
    data = json.dumps(req.body).encode() if req.body is not None else None
    r = urllib.request.Request(url, data=data, method=req.method,
                               headers={"Content-Type": "application/json"})
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(r, timeout=120) as resp:
            status, body = resp.status, resp.read()
    except urllib.error.HTTPError as e:
        status, body = e.code, e.read()
    latency = time.perf_counter() - t0
    # parsing a statement payload holds the GIL for tens of ms; deferring it
    # keeps the clients from slowing the service they measure
    return Reply(req, latency, status, None, len(body), body)


def _rows_of(req: Request, payload):
    if payload is None:
        return None
    if req.kind == "statement":
        return len(payload["data"])
    if req.kind == "availability":
        return payload
    if req.kind == "table_info":
        return len(payload)
    return payload["data"]


def closed_loop(requests: list[Request], call, seconds: float | None) -> tuple[list[Reply], float]:
    """CLIENTS threads each send the next request when their last one
    returns. Stop at the end of ``requests`` or, when ``seconds`` is set,
    once that much wall time has passed. Return replies in request order
    and the wall time until the last reply."""
    replies: list[Reply | None] = [None] * len(requests)
    nxt = iter(range(len(requests)))
    lock = threading.Lock()
    errors: list[BaseException] = []
    t0 = time.perf_counter()
    t_last = [t0]

    def client():
        while not errors:
            with lock:
                if seconds is not None and time.perf_counter() - t0 >= seconds:
                    return
                i = next(nxt, None)
            if i is None:
                return
            try:
                replies[i] = call(requests[i])
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errors.append(e)
                return
            with lock:
                t_last[0] = max(t_last[0], time.perf_counter())

    threads = [threading.Thread(target=client, name=f"client-{k}") for k in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    done = [r for r in replies if r is not None]
    return done, t_last[0] - t0


# --- direct engine calls, traced ----------------------------------------


def direct_call(served: Served, tracer, req: Request) -> Reply:
    from dynaledger_spark.functions.sanitize import sanitize_floats

    eng, rid = served.engine, f"req-{id(req)}"
    p = req.params
    nbytes = 0
    with tracer.span("bench.request", rid) as top:
        top.attrs["kind"] = req.kind
        if req.kind == "statement":
            with tracer.span("api.statement_frame", rid, spark_work=True):
                df = eng.financial_data_frame(int(p["year"]), p["quarter"], p["data_type"], p["source"])
            with tracer.span("api.statement_collect", rid, spark_work=True):
                data = [r.asDict() for r in sanitize_floats(df).collect()]
            with tracer.span("http_service.json_encode", rid):
                nbytes = len(json.dumps({"data": data, "execution_time": 0.0}, default=str).encode())
            rows = len(data)
        elif req.kind == "availability":
            with tracer.span("api.lookup_exec", rid, spark_work=True):
                rows = eng.check_availability(int(p["year"]), p["quarter"])
        elif req.kind == "table_info":
            from dynaledger_spark.http_service import _table_names

            with tracer.span("api.lookup_exec", rid, spark_work=True):
                rows = len(eng.table_info(_table_names(p["data_source"], int(p["year"]), p["quarter"])))
        else:
            sql = req.body["query"] if req.body else p["query"]
            with tracer.span("catalog.sql_analyze", rid, spark_work=True):
                df = eng.spark.sql(sql)
            with tracer.span("api.lookup_exec", rid, spark_work=True):
                rows = json.loads(json.dumps(
                    [r.asDict() for r in sanitize_floats(df).collect()], default=str))
    own = sum(s.dur for s in tracer.spans if s.rid == rid and s.name != "bench.request")
    return Reply(req, own, 200, rows, nbytes)


# --- the workload -------------------------------------------------------


def serve(ctx: harness.Context) -> Served:
    """Ingest the serving quarters and register what the dashboard reads,
    the way the service's deployment does."""
    from dynaledger_spark.api import SecEngine
    from dynaledger_spark.operators.backfill import statement_facts
    from dynaledger_spark.operators.documents import documents_table, register_flatten_views
    from dynaledger_spark.sources.json_docs import read_documents

    spark = ctx.spark
    n_num = SMOKE_NUM_ROWS if ctx.smoke else NUM_ROWS
    roots = harness.sec_roots(
        os.path.join(ctx.scratch, "roots"),
        secgen.write_ticker(os.path.join(ctx.scratch, "ticker.txt"), ctx.seed),
    )
    quarters = [
        secgen.write_quarter(os.path.join(ctx.scratch, "gen", t), ctx.seed, t, n_num)
        for t in QUARTERS
    ]
    for q in quarters:
        with ctx.tracer.span("bench.quarter", q.tag):
            harness.ingest_sec_quarter(spark, ctx.tracer, roots, q)

    eng = SecEngine(spark)
    for t in ("sec_sub", "sec_tag", "sec_num", "sec_pre"):
        eng.register(t, spark.read.parquet(os.path.join(roots.typed, t)).drop("_row_id"))
    for q in quarters:
        for name, stmt in (("BALANCE_SHEET", "BS"), ("INCOME_STATEMENT", "IS"), ("CASH_FLOW", "CF")):
            eng.register(
                f"{name}_{q.tag}",
                statement_facts(spark, roots.facts, q.tag, stmt).drop("source_file"),
            )
        table = documents_table(read_documents(spark, os.path.join(roots.docs, q.tag)))
        eng.register(f"sec_data_{q.tag}", table)
        for stem, view in register_flatten_views(spark, table, q.year, f"Q{q.qnum}").items():
            eng.register(f"view_{stem}_{q.year}_Q{q.qnum}", view)
    return Served(engine=eng, port=0, expected={}, quarters=quarters, roots=roots)


def run(ctx: harness.Context) -> harness.Result:
    from dynaledger_spark.http_service import SecHttpService

    tracer = ctx.tracer
    traced_run = tracer.enabled
    served = serve(ctx)  # traced runs trace the set-up ingest
    tracer.enabled = False
    t0 = time.perf_counter()  # the expectations are a check: off the clock
    served.expected = {q.tag: harness.sec_expectations(q) for q in served.quarters}
    check_s = time.perf_counter() - t0
    seq = make_requests(ctx.seed, served, 5_000)
    svc = SecHttpService(served.engine).start()
    try:
        warm = {}
        for r in seq:
            warm.setdefault((r.kind, r.route), r)
        t0 = time.perf_counter()
        log = [http_call(svc.port, r) for r in warm.values()]
        cold_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - ctx.t_start - check_s

        replies, wall = closed_loop(seq, lambda r: http_call(svc.port, r), ctx.seconds)
        log += replies
        n = len(replies)
        if traced_run:
            # the direct calls once untraced, then traced: the ratio of
            # their walls is what the tracing costs
            untraced = Tracer(ctx.spark, enabled=False)
            plain, plain_wall = closed_loop(seq[:n], lambda r: direct_call(served, untraced, r), None)
            tracer.enabled = True
            direct, direct_wall = closed_loop(seq[:n], lambda r: direct_call(served, tracer, r), None)
            http_traced, _ = closed_loop(seq[:n], lambda r: _traced_http(tracer, svc.port, r), None)
            log += plain + direct + http_traced
            ctx.layer["bench.tracing_overhead_frac"] = direct_wall / plain_wall - 1
            _layer(ctx, replies, direct, http_traced, cold_s)
            ctx.layer["bench.ingest_setup_share"] = (
                sum(s.dur for s in tracer.named("bench.quarter")) / setup_s)
    finally:
        svc.stop()

    for r in log:
        r.parse()
    ingest_failures = harness.check_sec_quarters(
        ctx.spark, served.roots, served.quarters, served.expected
    )
    if traced_run:
        harness.ingest_layer(ctx, served.roots, served.quarters[1:])
    failures = ingest_failures + [f for r in log for f in _check(r)]
    return harness.Result(
        e2e=harness.e2e_metrics(setup_s, [r.latency_s for r in replies], n / wall),
        attempted=len(served.quarters) + len(log),
        failed=len({f.split()[0] for f in ingest_failures})
        + sum(1 for r in log if _check(r)),
        failures=failures,
    )


def _traced_http(tracer, port: int, req: Request) -> Reply:
    with tracer.span("bench.http_request", f"req-{id(req)}") as sp:
        sp.attrs["kind"] = req.kind
        return http_call(port, req)


def _check(r: Reply) -> list[str]:
    req = r.req
    if r.status != 200:
        return [f"{req.path} {req.params}: HTTP {r.status}"]
    if r.rows != req.expect:
        return [f"{req.path} {req.params}: got {str(r.rows)[:200]}, DuckDB says {str(req.expect)[:200]}"]
    return []


def _p(xs, q: float) -> float:
    xs = sorted(xs)
    return float(np.quantile(xs, q)) if xs else 0.0


def _layer(ctx, http, direct, http_traced, cold_s: float) -> None:
    layer, tr = ctx.layer, ctx.tracer
    ms = lambda xs: harness.median(xs) * 1000  # noqa: E731
    layer["bench.cold_op_ms"] = cold_s * 1000
    layer["bench.request_p90_ms"] = _p([r.latency_s for r in http], 0.9) * 1000
    layer["bench.statement_p50_ms"] = ms(r.latency_s for r in http if r.req.kind == "statement")
    layer["bench.lookup_p50_ms"] = ms(r.latency_s for r in http if r.req.kind != "statement")
    for name, metric in (
        ("api.statement_frame", "api.statement_frame_ms"),
        ("api.statement_collect", "api.statement_collect_ms"),
        ("http_service.json_encode", "http_service.json_encode_ms"),
        ("catalog.sql_analyze", "catalog.sql_analyze_ms"),
        ("api.lookup_exec", "api.lookup_exec_ms"),
    ):
        layer[metric] = ms(s.dur for s in tr.named(name))
    layer["http_service.response_bytes"] = harness.median(
        r.nbytes for r in http_traced if r.req.kind == "statement")
    # per direct request: Spark counters summed over its leaf spans
    kind_of = {s.rid: s.attrs["kind"] for s in tr.named("bench.request")}
    per_req: dict[str, list] = {}
    for s in tr.spans:
        if s.stages is not None and s.rid in kind_of:
            per_req.setdefault(s.rid, []).append(s.stages)
    rows_of = {f"req-{id(r.req)}": r.rows for r in direct}
    jobs, waits, scan_ratio = [], [], []
    for rid, stages in per_req.items():
        jobs.append(sum(st.jobs for st in stages))
        waits.append(sum(st.slot_wait_ms for st in stages))
        if kind_of.get(rid) != "statement":
            rows = rows_of.get(rid)
            n = len(rows) if isinstance(rows, list) else rows if isinstance(rows, int) else 1
            scan_ratio.append(sum(st.input_records for st in stages) / max(1, n))
    layer["spark.jobs_per_request"] = harness.median(jobs)
    layer["spark.slot_wait_ms"] = harness.median(waits)
    layer["api.rows_scanned_per_row_returned"] = harness.median(scan_ratio)
    for cls, pred in (("statement", lambda k: k == "statement"), ("lookup", lambda k: k != "statement")):
        layer[f"http_service.{cls}_overhead_ms"] = ms(
            r.latency_s for r in http_traced if pred(r.req.kind)
        ) - ms(r.latency_s for r in direct if pred(r.req.kind))
    for route in ("raw", "fact", "json", "availability", "table_info", "topk", "point"):
        rows = [r.rows for r in direct if r.req.route == route]
        layer[f"api.rows_returned.{route}"] = harness.median(
            len(x) if isinstance(x, list) else 1 if isinstance(x, dict) else x for x in rows)
