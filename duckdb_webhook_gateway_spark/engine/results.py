"""Result-shaping contract.

The reference shapes every transform result into observable API behavior
(reference: src/app.py:467-504, pinned by tests/test_event_processing.py:74-108):

- 0 rows  -> ``{}``
- 1 row   -> flat ``{col: value}`` dict
- N rows  -> ``{"results": [{col: value}, ...]}``

This is the single place that contract lives for the Spark engine.
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any

from pyspark.sql import DataFrame, Row


def _plain(value: Any) -> Any:
    """Make a collected Spark value JSON-friendly, mirroring the reference's
    dict-of-builtin results (reference: src/app.py:488-504; datetimes are
    ISO-formatted on the /query path, src/app.py:978-986)."""
    if isinstance(value, Row):
        return {k: _plain(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    if isinstance(value, _dt.timedelta):
        return value.total_seconds()
    if isinstance(value, bytes):
        return value.decode("utf-8", errors="replace")
    if isinstance(value, float) and (math.isnan(value) or math.isinf(value)):
        return None
    return value


def rows_to_dicts(df: DataFrame) -> list[dict[str, Any]]:
    """Collect a DataFrame as a list of plain dicts (column order preserved
    via df.columns, the Spark-native version of the reference's LIMIT-0
    column probe at src/app.py:475-480 — no second query needed)."""
    cols = df.columns
    return [{c: _plain(row[c]) for c in cols} for row in df.collect()]


def shape_rows(rows: list[dict[str, Any]]) -> dict[str, Any]:
    """Apply the 0/1/N-row shaping contract (reference: src/app.py:488-504)."""
    if not rows:
        return {}
    if len(rows) == 1:
        return rows[0]
    return {"results": rows}


def shape_result(df: DataFrame) -> dict[str, Any]:
    """Collect a transform result and shape it with :func:`shape_rows`."""
    return shape_rows(rows_to_dicts(df))
