"""Result sanitization (SURVEY §2.2 P13).

Reference: backend/main.py:34-40 walks fetched rows and replaces NaN/Inf
floats with None before JSON serialization. Engine-side equivalent: a
plan-level projection (nanvl/when), so the fix happens distributed, not in
the serialization loop.
"""

from __future__ import annotations

import math
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Frames sanitize_floats produced: sanitizing one again returns it as is,
# so a caller that re-wraps a prepared frame keeps its planned
# QueryExecution instead of analysing and planning a fresh Project.
_SANITIZED: weakref.WeakSet[DataFrame] = weakref.WeakSet()


def sanitize_floats(df: DataFrame) -> DataFrame:
    """NaN/±Inf in any double/float column → NULL (JSON-safe).

    Idempotent and free on its own output: ``sanitize_floats(s) is s``
    for any ``s`` it returned."""
    if df in _SANITIZED:
        return df
    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
            c = F.col(field.name)
            cols.append(
                F.when(F.isnan(c) | c.isin(float("inf"), float("-inf")), None)
                .otherwise(c)
                .alias(field.name)
            )
        else:
            cols.append(F.col(field.name))
    out = df.select(*cols)
    _SANITIZED.add(out)
    return out


def sanitize_rows(rows: list[dict]) -> list[dict]:
    """Driver-side fallback with the reference's exact row-walk shape."""
    for item in rows:
        for key, value in item.items():
            if isinstance(value, float) and (math.isnan(value) or math.isinf(value)):
                item[key] = None
    return rows
