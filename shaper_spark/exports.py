"""Exports: streaming CSV / JSON, in-memory XLSX, and the download-query
resolution + variable-replay protocol around them. Replay is the render
walk itself (``engine._rendering``) over the statements before the
target, and the target is prepared like any dashboard statement.

Reference behavior being re-expressed (not copied):
  * resolveDownloadQueryID — server/core/stream_query.go:29-65
  * getVarPrefix replay  — server/core/stream_query.go:737-816
  * CSV/JSON streamers   — server/core/stream_query.go:246-397
  * value formatting     — server/core/stream_query.go:653-730
  * XLSX writer/styles   — server/core/stream_query.go:406-651

Scale notes: CSV/JSON use ``df.toLocalIterator()`` so exports stream
row-at-a-time from executors without materializing the result on the
driver — an unbounded export of a 100 TB scan is bounded by one
partition in memory at a time. XLSX is inherently bounded (a workbook
is random-access) and collects.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import math
import re
import uuid as uuid_mod
from decimal import Decimal
from typing import IO, Any, Iterable

from pyspark.sql import DataFrame, SparkSession

from . import sqltool
from .engine import QUERY_MAX_ROWS, _prepare_query, _rendering, _VarState
from .xlsx import (
    DATETIME_STYLE,
    DURATION_STYLE,
    HEADER_STYLE,
    NUMBER_STYLE,
    TEXT_STYLE,
    MiniWorkbook,
)

__all__ = [
    "resolve_download_query_id",
    "validate_dashboard_download",
    "replay_var_state",
    "format_value",
    "interval_to_string",
    "stream_csv",
    "stream_json",
    "write_xlsx",
    "STREAMERS",
    "stream_dashboard_export",
]

MICROS_PER_DAY = 24 * 3600 * 1_000_000

# Widget/control custom types whose queries are never "the" download query
# (reference stream_query.go:29).
_EXCLUDED_TYPES_RE = re.compile(
    r"\b(LABEL|SECTION|XLINE|YLINE|DROPDOWN|DOWNLOAD_CSV|DOWNLOAD_XLSX|"
    r"DOWNLOAD_JSON|DOWNLOAD_PDF|DATEPICKER|DATEPICKER_FROM|DATEPICKER_TO|"
    r"PLACEHOLDER|INPUT|RELOAD|HEADER_IMAGE|FOOTER_LINK)\b"
)


def resolve_download_query_id(statements: list[str], download_type: str) -> int:
    """Find which statement a csv/xlsx/json download refers to.

    Exactly one ``DOWNLOAD_<TYPE>`` marker → the statement *after* it;
    else exactly one visible (non-side-effect, non-widget) query → that
    statement. Ambiguity or absence raises ValueError."""
    marker = "DOWNLOAD_" + download_type.upper()
    found, count = -1, 0
    for i, s in enumerate(statements):
        if marker in s.upper():
            found, count = i, count + 1
    if count == 1:
        return found + 1

    found, count = -1, 0
    for i, s in enumerate(statements):
        if sqltool.is_side_effect(s):
            continue
        if not _EXCLUDED_TYPES_RE.search(s.upper()):
            found, count = i, count + 1
    if count == 1:
        return found
    if count == 0:
        raise ValueError(
            f"could not find a matching query for {download_type.upper()} download"
        )
    raise ValueError(
        f"found {count} potential queries for {download_type.upper()} download, "
        "please specify which one with query_id"
    )


def replay_var_state(
    spark: SparkSession,
    statements: list[str],
    params: dict[str, Any] | None = None,
    variables: dict[str, Any] | None = None,
    max_rows: int = QUERY_MAX_ROWS,
) -> _VarState:
    """The variables (dropdown selections, datepickers, SET VARIABLE, …)
    after rendering ``statements`` — the reference's getVarPrefix
    replay. Temp views the statements create are gone on return."""
    with _rendering(spark, statements, params, variables, "", max_rows) as walk:
        return walk.vars


def validate_dashboard_download(
    spark: SparkSession,
    content: str,
    target_dashboard_id: str,
    source_dashboard_id: str = "",
    params: dict[str, Any] | None = None,
    variables: dict[str, Any] | None = None,
) -> bool:
    """Does this dashboard render a PDF-download button pointing at
    ``target_dashboard_id``? (reference ValidateDashboardDownload,
    get_dashboard.go:402-519 — gates minting download JWTs for other
    dashboards). A DOWNLOAD_PDF with an ``::ID`` column targets that id;
    without one it targets the source dashboard itself. The script is
    rendered in full, so one whose render fails validates nothing."""
    statements = sqltool.split_sql_queries(sqltool.strip_sql_comments(content))
    with _rendering(
        spark, statements, params, variables, source_dashboard_id,
        QUERY_MAX_ROWS,
    ) as walk:
        return target_dashboard_id in walk.pdf_targets


# ---------------------------------------------------------------------------
# Value formatting (CSV / JSON cell values)
# ---------------------------------------------------------------------------


def interval_to_string(td: dt.timedelta) -> str:
    """``10d 5h 30m 15.068s`` — days plus h/m/s from the sub-day part
    (reference intervalToString, stream_query.go:698-730; the months≈30d
    approximation happens upstream where months exist)."""
    total_micros = round(td.total_seconds() * 1_000_000)
    sign = "-" if total_micros < 0 else ""
    total_micros = abs(total_micros)
    days, rem = divmod(total_micros, MICROS_PER_DAY)
    parts: list[str] = []
    if days:
        parts.append(f"{sign}{days}d")
    hours, rem = divmod(rem, 3600 * 1_000_000)
    if hours:
        parts.append(f"{sign}{hours}h")
    minutes, rem = divmod(rem, 60 * 1_000_000)
    if minutes:
        parts.append(f"{sign}{minutes}m")
    seconds = rem / 1_000_000
    if seconds or not parts:
        parts.append(f"{sign}{seconds:.3f}s")
    return " ".join(parts)


def interval_to_days(td: dt.timedelta) -> float:
    """Interval as fractional days — the XLSX duration representation
    (reference intervalToDays, stream_query.go:688-695)."""
    return td.total_seconds() / 86400.0


def _format_ts(v: dt.datetime) -> str:
    # Go time.Format(time.RFC3339): UTC prints a literal Z.
    if v.tzinfo is None:
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    return v.isoformat()


def format_value(v: Any) -> str:
    """CSV cell representation (reference formatValue,
    stream_query.go:659-686)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        if len(v) == 16:
            return str(uuid_mod.UUID(bytes=v))
        return v.decode("utf-8", errors="replace")
    if isinstance(v, dt.timedelta):
        return interval_to_string(v)
    if isinstance(v, dt.datetime):
        return _format_ts(v)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return ", ".join(format_value(x) for x in v)
    if isinstance(v, dict):
        return json.dumps({k: json_value(x) for k, x in v.items()})
    if isinstance(v, Decimal):
        return str(float(v))
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return ""
        return repr(v)
    return str(v)


def json_value(v: Any) -> Any:
    """JSON cell representation (reference jsonValue,
    stream_query.go:310-334): native types pass through, engine-specific
    ones are stringified the same way as CSV."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        return v
    if isinstance(v, bytes):
        return format_value(v)
    if isinstance(v, dt.timedelta):
        return interval_to_string(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return format_value(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: json_value(x) for k, x in v.items()}
    return str(v)


# ---------------------------------------------------------------------------
# Streamers
# ---------------------------------------------------------------------------


def stream_csv(df: DataFrame, writer: IO[str]) -> int:
    """Header + rows as CSV, streamed via toLocalIterator (no driver
    materialization, no row cap). Returns row count."""
    w = csv.writer(writer, lineterminator="\n")
    w.writerow(df.columns)
    n = 0
    for row in df.toLocalIterator():
        w.writerow([format_value(v) for v in row])
        n += 1
    return n


def stream_json(df: DataFrame, writer: IO[str]) -> int:
    """``[{col: val}, …]`` streamed row-at-a-time. Returns row count."""
    cols = df.columns
    writer.write("[")
    n = 0
    for row in df.toLocalIterator():
        if n:
            writer.write(",")
        json.dump(
            {c: json_value(v) for c, v in zip(cols, row)},
            writer,
            ensure_ascii=False,
        )
        writer.write("\n")
        n += 1
    writer.write("]")
    return n


def write_xlsx(df: DataFrame, out: IO[bytes] | str, sheet_name: str = "Sheet1") -> int:
    """Styled XLSX: bold centered header, frozen header row, autofilter,
    m/d/yy h:mm datetimes, [h]:mm:ss intervals (stored as fractional
    days), fitted column widths (reference stream_query.go:406-651),
    written by the stdlib SpreadsheetML writer (shaper_spark.xlsx)."""
    wb = MiniWorkbook(sheet_name)
    cols = df.columns
    widths = [len(c) for c in cols]
    wb.add_row([(c, HEADER_STYLE) for c in cols])
    n = 0
    for row in df.toLocalIterator():
        n += 1
        cells: list[tuple[Any, int]] = []
        for j, v in enumerate(row):
            if v is None:
                cells.append((None, 0))
                continue
            if isinstance(v, dt.timedelta):
                cells.append((interval_to_days(v), DURATION_STYLE))
                text_len = 8
            elif isinstance(v, dt.datetime):
                cells.append((v, DATETIME_STYLE))
                text_len = 14
            elif isinstance(v, bool):
                cells.append((v, 0))
                text_len = 5
            elif isinstance(v, (int, float, Decimal)):
                if isinstance(v, Decimal):
                    v = float(v)
                if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
                    cells.append((None, 0))
                    continue
                cells.append((v, NUMBER_STYLE))
                text_len = len(str(v))
            else:
                s = format_value(v)
                cells.append((s, TEXT_STYLE))
                text_len = len(s)
            if text_len > widths[j]:
                widths[j] = text_len
        wb.add_row(cells)
    wb.widths = [min(w + 2, 60) for w in widths]
    wb.save(out)
    return n


_write_xlsx_stdlib = write_xlsx  # the name this path had beside openpyxl's

# the row-streaming export formats, by file extension
STREAMERS = {"csv": stream_csv, "json": stream_json, "xlsx": write_xlsx}


# ---------------------------------------------------------------------------
# Dashboard-level export entry point
# ---------------------------------------------------------------------------


def stream_dashboard_export(
    spark: SparkSession,
    content: str,
    fmt: str,
    writer: IO[Any],
    query_id: int = -1,
    params: dict[str, Any] | None = None,
    variables: dict[str, Any] | None = None,
) -> int:
    """Export one query of a dashboard script as csv/json/xlsx: split the
    script, resolve the target statement, render the statements before
    it for their variables, then prepare and stream the target while
    the temp views they created still exist. Returns row count."""
    if fmt not in STREAMERS:
        raise ValueError(f"unsupported export format: {fmt}")
    statements = sqltool.split_sql_queries(sqltool.strip_sql_comments(content))
    if query_id == -1:
        query_id = resolve_download_query_id(statements, fmt)
    if not 0 <= query_id < len(statements):
        raise ValueError(f"no query for query index {query_id}")
    target = statements[query_id]
    if not sqltool.is_allowed_statement(target):
        raise ValueError(f"disallowed SQL statement in query {query_id + 1}")

    with _rendering(
        spark, statements[:query_id], params, variables, "", QUERY_MAX_ROWS
    ) as walk:
        df, _ = _prepare_query(spark, target.strip(), walk.vars, walk.macros)
        return STREAMERS[fmt](df, writer)
