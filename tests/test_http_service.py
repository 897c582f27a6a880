"""HTTP service wrapper: the reference's FastAPI routes (backend/main.py)
served over SecEngine via stdlib http.server — driven with urllib against
an ephemeral port, asserting parity with direct engine calls."""

from __future__ import annotations

import json
import sys
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from dynaledger_spark.api import SecEngine
from dynaledger_spark.functions.sanitize import sanitize_floats
from dynaledger_spark.http_service import SecHttpService
from dynaledger_spark.sources.tsv import ROW_ID, ingest_quarter
from tests.sec_fixtures import Q, write_fixtures


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    paths = write_fixtures(str(tmp_path_factory.mktemp("http_tsv")))
    tables = ingest_quarter(
        spark, {k: v for k, v in paths.items() if k != "ticker"}, Q
    )
    eng = SecEngine(spark)
    for name, df in tables.items():
        eng.register(name, df.drop(ROW_ID))
    svc = SecHttpService(eng).start()
    yield svc, eng
    svc.stop()


def _get(svc: SecHttpService, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{svc.port}{path}") as r:
        return r.status, json.loads(r.read())


def _post(svc: SecHttpService, path: str, body: dict):
    req = urllib.request.Request(
        f"http://127.0.0.1:{svc.port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_check_availability(service):
    svc, _ = service
    status, out = _get(svc, "/check-availability?source=RAW&year=2023&quarter=Q1")
    assert (status, out) == (200, {"available": True})
    status, out = _get(svc, "/check-availability?source=RAW&year=2024&quarter=Q4")
    assert (status, out) == (200, {"available": False})


def test_get_financial_data_matches_engine(service):
    svc, eng = service
    status, out = _get(
        svc,
        "/get-financial-data?year=2023&quarter=Q1"
        "&data_type=Balance%20Sheet&source=RAW",
    )
    assert status == 200
    direct = eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")
    # JSON round-trip stringifies non-JSON scalars (default=str), so
    # compare on the stringified view of the direct rows.
    want = json.loads(json.dumps(direct["data"], default=str))
    assert out["data"] == want
    assert out["execution_time"] > 0


def test_custom_query_roundtrip(service):
    svc, _ = service
    status, out = _post(
        svc,
        "/execute-custom-query?data_source=Raw",
        {"query": "SELECT COUNT(*) AS n FROM sec_sub WHERE period IS NOT NULL"},
    )
    assert (status, out) == (200, {"data": [{"n": 4}]})


def test_custom_query_bad_sql_is_500(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(svc, "/execute-custom-query?data_source=Raw", {"query": "SELEC nope"})
    assert e.value.code == 500


def test_query_data_get_roundtrip(service):
    # GET /query-data (backend/main.py:224-252): the unparameterized GET
    # twin of POST /execute-custom-query — same payload shape ({"data": …},
    # no execution_time key), query URL-encoded in the query string.
    svc, eng = service
    sql = "SELECT name, COUNT(*) AS n FROM sec_sub GROUP BY name ORDER BY name"
    status, out = _get(svc, "/query-data?query=" + urllib.parse.quote(sql))
    assert status == 200
    direct = eng.execute_custom_query(sql)
    assert out == json.loads(json.dumps(direct, default=str))
    assert set(out) == {"data"}


def test_query_data_missing_param_is_422(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/query-data")
    assert e.value.code == 422


def test_query_data_bad_sql_is_500_with_detail(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/query-data?query=" + urllib.parse.quote("SELEC nope"))
    # main.py:247: detail=str(e), not the POST route's generic message
    assert e.value.code == 500
    assert json.loads(e.value.read())["detail"]


def test_table_info_raw(service):
    svc, _ = service
    status, out = _get(svc, "/get-table-info?data_source=RAW&year=2023&quarter=Q1")
    assert status == 200
    assert [t["name"] for t in out] == ["sec_num", "sec_pre", "sec_sub", "sec_tag"]
    sub = next(t for t in out if t["name"] == "sec_sub")
    assert {"name", "type"} <= set(sub["columns"][0])
    assert len(sub["sample_data"]) == 3


def test_invalid_source_is_400(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/get-table-info?data_source=BOGUS&year=2023&quarter=Q1")
    assert e.value.code == 400


def test_unknown_route_is_404(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/nope")
    assert e.value.code == 404


# ---------------------------------------------------------------------------
# Prepared plans: fixed-shape routes build their frame once per key
# ---------------------------------------------------------------------------
BS_RAW = "/get-financial-data?year=2023&quarter=Q1&data_type=Balance%20Sheet&source=RAW"


def _copy(eng: SecEngine) -> SecEngine:
    fresh = SecEngine(eng.spark)
    for name, df in eng.tables.items():
        fresh.register(name, df)
    return fresh


def test_prepared_statement_is_reused(service):
    _, eng = service
    eng = _copy(eng)
    df = eng.financial_data_frame(2023, "Q1", "Balance Sheet", "RAW")
    assert eng.financial_data_frame(2023, "Q1", "Balance Sheet", "RAW") is df
    assert eng.financial_data_frame(2023, "1", "Balance Sheet", "RAW") is df
    # re-wrapping the prepared frame keeps its plan
    assert sanitize_floats(df) is df
    assert eng.financial_data_frame(2023, "Q1", "Cash Flow", "RAW") is not df


def test_prepared_statement_concurrent_first_requests(service):
    _, eng = service
    eng = _copy(eng)
    svc = SecHttpService(eng).start()
    start = threading.Barrier(8, timeout=60)
    bodies: list = [None] * 8

    def hit(i: int) -> None:
        start.wait()
        bodies[i] = _get(svc, BS_RAW)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=hit, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
        svc.stop()
    assert not any(t.is_alive() for t in threads)
    assert all(status == 200 for status, _ in bodies)
    fresh = sanitize_floats(eng._statement_frame(2023, "1", "Balance Sheet", "RAW"))
    want = json.loads(json.dumps([r.asDict() for r in fresh.collect()], default=str))
    assert want
    assert all(out["data"] == want for _, out in bodies)
    # racing first builds keep one frame
    keys = [k for k in eng._prepared if k[0] == "statement"]
    assert keys == [("statement", 2023, "1", "Balance Sheet", "RAW")]


def test_register_drops_prepared_plans(service):
    _, eng = service
    eng = _copy(eng)
    assert eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]
    assert eng.check_availability(2023, "Q1") == {"available": True}
    assert len(eng.table_info(["sec_sub"])[0]["sample_data"]) == 3

    pre, tag, sub = (eng.tables[n] for n in ("sec_pre", "sec_tag", "sec_sub"))
    eng.register("sec_pre", pre.filter(F.col("stmt") != "BS"))
    eng.register("sec_sub", sub.limit(1))
    assert eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"] == []
    assert ("statement", 2023, "1", "Balance Sheet", "RAW") in eng._prepared
    assert len(eng.table_info(["sec_sub"])[0]["sample_data"]) == 1
    eng.register("sec_tag", tag.filter(F.col("source_file") != "2023Q1"))
    assert eng.check_availability(2023, "Q1") == {"available": False}


def test_bad_statement_request_is_400_and_not_prepared(service):
    svc, eng = service
    for path in (
        BS_RAW.replace("Balance%20Sheet", "Bogus"),
        BS_RAW.replace("source=RAW", "source=BOGUS"),
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(svc, path)
        assert e.value.code == 400
    assert not [k for k in eng._prepared if "Bogus" in k or "BOGUS" in k]


def test_unregistered_quarters_are_not_prepared(service):
    _, eng = service
    eng = _copy(eng)
    assert eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]
    assert eng.check_availability(2023, "Q1") == {"available": True}
    before = set(eng._prepared)
    for year in (1999, 2024, 2031):
        assert eng.check_availability(year, "Q4") == {"available": False}
        assert eng.get_financial_data(year, "Q4", "Balance Sheet", "RAW")["data"] == []
        with pytest.raises(KeyError):
            eng.financial_data_frame(year, "Q4", "Balance Sheet", "FACT TABLES")
    assert set(eng._prepared) == before


def test_bad_quarter_is_400_and_not_prepared(service):
    svc, eng = service
    before = set(eng._prepared)
    for path in (
        BS_RAW.replace("quarter=Q1", "quarter=Qzzz"),
        BS_RAW.replace("quarter=Q1", "quarter=Q5"),
        "/check-availability?source=RAW&year=2023&quarter=Q0",
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(svc, path)
        assert e.value.code == 400
    assert set(eng._prepared) == before
