"""Query surface — the FastAPI endpoints as an in-process engine API.

Reference: backend/main.py. Every endpoint built SQL text by f-string and
shipped it to Snowflake; here each is a DataFrame plan (or spark.sql for
the pass-through) executed by Catalyst in-process. Per-quarter table-name
suffixes (`sec_sub_{Y}Q{q}`) become a `source_file` filter on partitioned
tables — same pruning, no name templating (SURVEY §4).

Prepared plans: the fixed-shape routes (statements, table samples) build
their DataFrame once per key and collect that same frame on every later
request. Spark keeps the analysed, optimised and physical plan in the
frame's QueryExecution, and AQE keeps its materialised shuffle and
broadcast stages, so a repeat request only runs the final stage. Keys stay
bounded by what is registered: RAW statements are prepared only for the
quarters `sec_tag` holds (one distinct scan, itself prepared, which also
answers /check-availability), FACT/JSON statements and samples only for
registered tables. ``register()`` drops every prepared value.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Hashable
from dataclasses import dataclass, field
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynaledger_spark.functions.sanitize import sanitize_floats

# data_type → pre.stmt code for RAW queries (backend/main.py:156-160).
# Note the reference maps Income Statement to 'IC' here while the dbt fact
# model uses 'IS' — an inconsistency kept faithfully.
RAW_STMT_TYPES = {"Income Statement": "IC", "Balance Sheet": "BS", "Cash Flow": "CF"}

T = TypeVar("T")


def _quarter(quarter: str) -> str:
    """'Q3' or '3' → '3'; anything outside 1-4 is a bad request."""
    q = quarter.replace("Q", "")
    if q not in ("1", "2", "3", "4"):
        raise ValueError(f"Invalid quarter: {quarter}")
    return q


@dataclass
class SecEngine:
    """In-process replacement for the FastAPI → Snowflake stack.

    Tables register once (raw: sec_sub/sec_tag/sec_num/sec_pre with a
    source_file partition column; facts: BALANCE_SHEET/…; json: the
    documents table + flatten views); queries are Catalyst plans.
    """

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # key → prepared value; register() swaps in a fresh dict, so a build
    # racing a register() lands in the dropped dict, never the live one.
    _prepared: dict[Hashable, object] = field(
        default_factory=dict, init=False, repr=False
    )
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False
    )

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        df.createOrReplaceTempView(name)
        self._prepared = {}

    def _prepare(self, key: Hashable, build: Callable[[], T]) -> T:
        """The value for `key`, built on its first request. A build that
        raises caches nothing; of two racing first builds, one is kept."""
        prepared = self._prepared
        value = prepared.get(key)
        if value is None:
            value = build()
            with self._lock:
                value = prepared.setdefault(key, value)
        return value

    def _quarters(self) -> frozenset[str]:
        """The quarter tags `sec_tag` holds, read once per registration."""
        return self._prepare(
            "quarters",
            lambda: frozenset(
                r[0]
                for r in self.tables["sec_tag"].select("source_file").distinct().collect()
            ),
        )

    # -- GET /check-availability (backend/main.py:43-60, A1 + P6)
    def check_availability(self, year: int, quarter: str) -> dict:
        return {"available": f"{year}Q{_quarter(quarter)}" in self._quarters()}

    # -- GET /get-financial-data (backend/main.py:137-221)
    def get_financial_data(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> dict:
        t0 = time.time()
        df = self.financial_data_frame(year, quarter, data_type, source)
        rows = [r.asDict() for r in df.collect()]
        return {"data": rows, "execution_time": time.time() - t0}

    def financial_data_frame(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> DataFrame:
        """The sanitized plan behind /get-financial-data, prepared once per
        (year, quarter, data_type, source). A RAW request for a quarter
        `sec_tag` does not hold gets a fresh, unprepared frame."""
        q = _quarter(quarter)

        def build() -> DataFrame:
            return sanitize_floats(self._statement_frame(year, q, data_type, source))

        if source == "RAW" and f"{year}Q{q}" not in self._quarters():
            return build()
        return self._prepare(("statement", year, q, data_type, source), build)

    def _statement_frame(
        self, year: int, q: str, data_type: str, source: str
    ) -> DataFrame:
        tag = f"{year}Q{q}"
        if source == "RAW":
            stmt = RAW_STMT_TYPES.get(data_type)
            if stmt is None:
                raise ValueError(f"Invalid data type: {data_type}")
            sub = self.tables["sec_sub"].filter(F.col("source_file") == tag)
            pre = self.tables["sec_pre"].filter(F.col("source_file") == tag)
            num = self.tables["sec_num"].filter(F.col("source_file") == tag)
            # 3-way join: sub ⋈_adsh pre ⋈_(adsh,tag,version) num
            # (backend/main.py:163-177); sub is one-row-per-filing →
            # broadcastable against millions of num facts.
            return (
                sub.alias("s")
                .join(pre.alias("p"), F.col("s.adsh") == F.col("p.adsh"))
                .join(
                    num.alias("n"),
                    (F.col("s.adsh") == F.col("n.adsh"))
                    & (F.col("p.tag") == F.col("n.tag"))
                    & (F.col("p.version") == F.col("n.version")),
                )
                .filter(F.col("p.stmt") == stmt)
                .select(
                    "s.adsh", "s.cik", "s.name", "s.sic", "s.countryba",
                    "s.stprba", "s.cityba", "s.filed",
                    "p.line", "p.plabel",
                    "n.tag", "n.version", "n.ddate", "n.qtrs", "n.uom", "n.value",
                )
                .orderBy("adsh", "line")
            )
        if source == "FACT TABLES":
            name = {
                "Balance Sheet": "BALANCE_SHEET",
                "Income Statement": "INCOME_STATEMENT",
                "Cash Flow": "CASH_FLOW",
            }.get(data_type)
            if name is None:
                raise ValueError(f"Invalid data type: {data_type}")
            return self.tables[f"{name}_{tag}"]
        if source == "JSON":
            name = {
                "Balance Sheet": "balance_sheet",
                "Income Statement": "income_statement",
                "Cash Flow": "cash_flow",
            }.get(data_type)
            if name is None:
                raise ValueError(f"Invalid data type: {data_type}")
            return self.tables[f"view_{name}_{year}_Q{q}"]
        raise ValueError(f"Invalid source: {source}")

    # -- POST /execute-custom-query (backend/main.py:109-134, §3.2)
    def execute_custom_query(self, query: str) -> dict:
        df = self.spark.sql(query)
        rows = [r.asDict() for r in sanitize_floats(df).collect()]
        return {"data": rows}

    # -- GET table info (backend/main.py:85-101, S12)
    def table_info(self, names: list[str]) -> list[dict]:
        out = []
        for name in names:
            df = self._prepare(("sample", name), lambda: self.tables[name].limit(3))
            out.append(
                {
                    "name": name,
                    "columns": [
                        {"name": f.name, "type": f.dataType.simpleString()}
                        for f in df.schema.fields
                    ],
                    "sample_data": [r.asDict() for r in df.collect()],
                }
            )
        return out
