"""Wire-type mapping and value normalization for collected dashboard rows.

Behavior parity with reference server/core/get_dashboard.go:615-695
(mapDBType), 1349-1466 (timestamp granularity), 287-355 (normalization
loop), 2090-2107 (interval/time/UUID formatting), 2268-2317 (map→dict).

All of this runs on the driver over ≤3000 collected rows — the heavy
lifting already happened distributed inside Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import uuid
from decimal import Decimal
from typing import Any

from .custom_types import CUSTOM_TYPES
from .render import Column, interval_to_ms

__all__ = [
    "map_wire_type",
    "get_timestamp_type",
    "normalize_rows",
    "format_time_ms",
]

_NUMBER_SPARK_PREFIXES = (
    "double", "float", "int", "bigint", "smallint", "tinyint", "decimal",
    "long", "short", "byte",
)


def format_time_ms(t: dt.datetime | dt.time) -> int:
    """ms since midnight (reference formatTime, get_dashboard.go:2104-2107)."""
    return (
        (t.hour * 3600 + t.minute * 60 + t.second) * 1000
        + t.microsecond // 1000
    )


def get_timestamp_type(rows: list, index: int) -> str:
    """Scan values → year/month/date/hour/time/timestamp granularity
    (reference getTimestampType, get_dashboard.go:1349-1404). Controls
    axis label formatting downstream."""
    has_year = has_month = has_day = has_hour = has_msn = False
    for row in rows:
        v = row[index]
        if v is None:
            continue
        if isinstance(v, dt.datetime):
            t = v
        elif isinstance(v, dt.date):
            t = dt.datetime(v.year, v.month, v.day)
        else:
            return "timestamp"
        if t.minute != 0 or t.second != 0 or t.microsecond != 0:
            has_msn = True
        if t.hour != 0:
            has_hour = True
        if t.year != 1:
            has_year = True
        if t.month != 1:
            has_month = True
        if t.day != 1:
            has_day = True
        if has_msn and (has_year or has_month or has_day):
            return "timestamp"
    if len(rows) < 2:
        return "timestamp"
    if not has_day and not has_month and not has_year and (has_hour or has_msn):
        return "time"
    if has_msn:
        return "timestamp"
    if has_hour:
        return "hour"
    if has_day:
        return "date"
    if has_month:
        return "month"
    return "year"


def _get_first_non_empty_cell(rows: list, index: int) -> Any:
    for row in rows:
        if row[index] is not None:
            return row[index]
    return None


def _axis_type(spark_type: str, rows: list, index: int) -> str:
    """Reference getAxisType (get_dashboard.go:1487-1505); member resolved
    statically from the Spark column type instead of per-row union tags."""
    if not rows:
        return "string"
    s = spark_type.lower()
    if s.startswith(("timestamp", "date")):
        return get_timestamp_type(rows, index)
    if s.startswith("interval day") or s.startswith("interval hour"):
        return "duration"
    if s.startswith("interval"):
        return "duration"
    if s.startswith(_NUMBER_SPARK_PREFIXES):
        return "number"
    return "string"


def _chart_type(spark_type: str) -> str:
    s = spark_type.lower()
    return "duration" if s.startswith("interval") else "number"


def map_wire_type(col: Column, rows: list, index: int) -> str:
    """Spark result type (+custom tag) → wire type vocabulary:
    boolean | string | number | date | timestamp/hour/month/year/time |
    duration | object | array | stringArray | percent."""
    if col.custom_type:
        ct = CUSTOM_TYPES.get(col.custom_type)
        if ct is not None:
            if ct.result_type == "chart":
                return _chart_type(col.spark_type)
            if ct.result_type == "axis":
                return _axis_type(col.spark_type, rows, index)
            return ct.result_type

    s = col.spark_type.lower()
    if s == "boolean":
        return "boolean"
    if s == "string":
        # JSON sniff: the engine can't tell JSON-in-VARCHAR apart from
        # plain text (same limitation as the reference, which sniffs the
        # first non-null scanned cell — get_dashboard.go:631-642).
        cell = _get_first_non_empty_cell(rows, index)
        if isinstance(cell, str) and cell[:1] in ("{", "["):
            try:
                parsed = json.loads(cell)
            except (ValueError, TypeError):
                return "string"
            if isinstance(parsed, dict):
                return "object"
            if isinstance(parsed, list):
                return "array"
        return "string"
    if s.startswith("interval"):
        return "duration"
    if s.startswith(_NUMBER_SPARK_PREFIXES):
        return "number"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return get_timestamp_type(rows, index)
    if s == "binary":
        return "string"
    if s.startswith("array<string"):
        return "stringArray"
    if s.startswith("array"):
        return "array"
    if s.startswith("map") or s.startswith("struct"):
        return "object"
    if s == "void" or s == "null":
        return "string"
    return "string"


def _plainify(value: Any) -> Any:
    """Deep conversion of Spark Row/struct/map/interval values to plain
    JSON-ready Python (reference duckMapToMap, get_dashboard.go:2268-2317)."""
    if value is None:
        return None
    if hasattr(value, "asDict"):  # pyspark Row
        return {k: _plainify(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {str(k): _plainify(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_plainify(v) for v in value]
    if isinstance(value, Decimal):
        return float(value)
    if isinstance(value, dt.timedelta):
        return interval_to_ms(value)
    if isinstance(value, dt.datetime):
        return _unix_ms(value)
    if isinstance(value, dt.date):
        return _unix_ms(dt.datetime(value.year, value.month, value.day))
    return value


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _unix_ms(t: dt.datetime) -> int:
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return int((t - _EPOCH) / dt.timedelta(milliseconds=1))


def normalize_rows(
    columns: list[Column], rows: list[list[Any]]
) -> tuple[int | None, int | None]:
    """In-place value normalization; returns (min_ms, max_ms) observed on
    ``index``-tagged time columns (→ Min/MaxTimeValue in the result)."""
    min_ms: int | None = None
    max_ms: int | None = None
    time_types = {"year", "month", "date", "hour", "timestamp"}
    for row in rows:
        for i, cell in enumerate(row):
            col = columns[i]
            ctype = col.type
            if cell is None:
                continue
            if isinstance(cell, (dt.datetime, dt.date)) and not isinstance(
                cell, dt.datetime
            ):
                cell = dt.datetime(cell.year, cell.month, cell.day)
            if isinstance(cell, dt.datetime):
                if ctype == "time":
                    row[i] = format_time_ms(cell)
                    continue
                ms = _unix_ms(cell)
                if col.tag == "index" and ctype in time_types:
                    if max_ms is None or ms > max_ms:
                        max_ms = ms
                    if min_ms is None or ms < min_ms:
                        min_ms = ms
                row[i] = str(ms) if ctype == "string" else ms
                continue
            if isinstance(cell, float):
                if math.isnan(cell):
                    row[i] = None
                elif ctype == "string":
                    row[i] = repr(cell)
                continue
            if isinstance(cell, uuid.UUID):
                row[i] = str(cell)
                continue
            if ctype == "duration":
                row[i] = interval_to_ms(cell)
                continue
            if ctype == "stringArray" and isinstance(cell, (list, tuple)):
                row[i] = ", ".join(str(v) for v in cell)
                continue
            if ctype == "number" and isinstance(cell, Decimal):
                row[i] = float(cell)
                continue
            if ctype == "object":
                parsed = cell
                if isinstance(cell, str):
                    try:
                        parsed = json.loads(cell)
                    except (ValueError, TypeError):
                        parsed = cell
                row[i] = _plainify(parsed)
                continue
            if ctype == "array" and isinstance(cell, str):
                try:
                    row[i] = json.loads(cell)
                except (ValueError, TypeError):
                    pass
                continue
            if isinstance(cell, (list, tuple)):
                row[i] = _plainify(cell)
                continue
            if hasattr(cell, "asDict"):
                row[i] = _plainify(cell)
    return min_ms, max_ms
