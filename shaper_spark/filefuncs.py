"""DuckDB file-reading table functions and direct-file FROM sugar.

DuckDB lets any SELECT read files directly — ``read_parquet('p')``,
``read_csv('p')`` / ``read_csv_auto('p')``, ``read_json('p')`` /
``read_json_auto('p')``, and the bare-path sugar ``FROM 'data.parquet'``
— and the reference's statement gate admits all of them (they are plain
SELECT surface; reference server/core/sql_validation.go allowlists the
statement head, not the table expressions). Users paste such queries
into dashboards, so the engine supports the same surface.

Spark has no Python API for SQL table functions, so (exactly like
``tablefuncs.py``) each call is expanded textually into a per-path temp
view materialized with the matching ``spark.read`` reader:

=====================================  ==================================
``read_parquet('p' [, opts])``         ``spark.read.parquet(p)``
``read_csv[_auto]('p' [, opts])``      ``spark.read.options(...).csv(p)``
``read_json[_auto]('p' [, opts])``     ``spark.read.options(...).json(p)``
``FROM 'p.parquet' / 'p.csv' / ...``   by extension
=====================================  ==================================

Globs work in both engines (Hadoop glob ≈ DuckDB glob for ``*``/``?``).
A short list of common named arguments maps onto reader options
(header/delim/sep/sample_size/columns are accepted; ``columns`` is
applied as a cast-select). Unknown options raise — silently ignoring a
DuckDB option would silently change results.

Statements using these bypass the analyzed-plan cache (the file listing
behind a glob may change between renders; DuckDB re-reads per query).

Scale note: the temp view is a plain ``spark.read`` relation, so
filters/column pruning push into the scan exactly as for a registered
table — this is the same code path used for warehouse tables, not a
driver-side materialization.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import SparkSession

from .sqltool import (
    _code_matches,
    _find_matching_close,
    _scan_states,
    _split_top_level_args,
    _sub_in_code,
)

__all__ = ["expand_file_functions"]

_CALL_RE = re.compile(
    r"\b(read_parquet|read_csv_auto|read_csv|read_json_auto|read_json|"
    r"parquet_scan)\s*\(",
    re.IGNORECASE,
)

# FROM 'file.parquet' / JOIN 'file.csv' sugar (DuckDB resolves quoted
# string table names by extension).
_FROM_FILE_RE = re.compile(
    r"\b(FROM|JOIN)\s+'([^']+\.(?:parquet|csv|json|jsonl|ndjson))'",
    re.IGNORECASE,
)

_FMT = {
    "read_parquet": "parquet",
    "parquet_scan": "parquet",
    "read_csv": "csv",
    "read_csv_auto": "csv",
    "read_json": "json",
    "read_json_auto": "json",
}

_EXT_FMT = {
    "parquet": "parquet",
    "csv": "csv",
    "json": "json",
    "jsonl": "json",
    "ndjson": "json",
}

# named-arg → Spark reader option translation (csv/json)
_OPT_MAP = {
    "header": ("header", lambda v: v),
    "delim": ("sep", lambda v: v),
    "sep": ("sep", lambda v: v),
    "quote": ("quote", lambda v: v),
    "escape": ("escape", lambda v: v),
    "nullstr": ("nullValue", lambda v: v),
    "sample_size": ("samplingRatio", lambda v: "1.0"),
    "compression": ("compression", lambda v: v),
    "ignore_errors": ("mode", lambda v: "DROPMALFORMED"),
    "all_varchar": ("inferSchema", lambda v: "false"),
    "auto_detect": ("inferSchema", lambda v: v),
    # r11 batch-26 tail: the remaining commonly-pasted read_csv args.
    # Format values arrive in DuckDB's %-code dialect — convert to
    # Java patterns with the shared strftime table.
    "dateformat": ("dateFormat", lambda v: _strf_to_java(v)),
    "timestampformat": ("timestampFormat", lambda v: _strf_to_java(v)),
    "decimal_separator": ("locale", lambda v: "de-DE" if v == "," else "en-US"),
    "comment": ("comment", lambda v: v),
}


def _strf_to_java(fmt: str) -> str:
    from .rewrite import _STRFTIME_CODES

    for code, java in _STRFTIME_CODES.items():
        fmt = fmt.replace(code, java)
    return fmt


class FileFunctionError(ValueError):
    pass


_TYPE_MAP = {
    "varchar": "STRING",
    "text": "STRING",
    "blob": "BINARY",
    "hugeint": "DECIMAL(38,0)",
    "ubigint": "DECIMAL(20,0)",
    "uinteger": "BIGINT",
    "usmallint": "INT",
    "utinyint": "SMALLINT",
    "integer": "INT",
    "time": "STRING",
}


def _spark_type(duck_type: str) -> str:
    return _TYPE_MAP.get(duck_type.strip().lower(), duck_type)


def _unquote(lit: str) -> str:
    lit = lit.strip()
    if not (lit.startswith("'") and lit.endswith("'")):
        raise FileFunctionError(
            f"file function path must be a string literal, got {lit!r}"
        )
    return lit[1:-1].replace("''", "'")


def _parse_call(fn: str, argstr: str) -> tuple[list[str], dict[str, str]]:
    args = _split_top_level_args(argstr)
    if not args:
        raise FileFunctionError(f"{fn}() needs a file path")
    first = args[0].strip()
    if first.startswith("["):
        paths = [_unquote(p) for p in _split_top_level_args(first[1:-1])]
    else:
        paths = [_unquote(first)]
    opts: dict[str, str] = {}
    for raw in args[1:]:
        m = re.match(r"\s*(\w+)\s*(?::?=|=>)\s*(.+)\s*$", raw, re.DOTALL)
        if not m:
            raise FileFunctionError(
                f"unsupported positional argument {raw!r} in {fn}()"
            )
        key = m.group(1).lower()
        val = m.group(2).strip().strip("'\"")
        if key == "columns":
            opts["__columns"] = m.group(2).strip()
            continue
        if key not in _OPT_MAP:
            raise FileFunctionError(
                f"unsupported {fn}() option {key!r} (supported: "
                f"{sorted(_OPT_MAP)} and columns)"
            )
        dest, conv = _OPT_MAP[key]
        opts[dest] = conv(val)
    return paths, opts


def _view_name(fmt: str, paths: list[str], opts: dict[str, str]) -> str:
    key = fmt + "\0" + "\0".join(paths) + "\0" + repr(sorted(opts.items()))
    return "__file_" + hashlib.md5(key.encode()).hexdigest()[:12]


def _materialize(
    spark: SparkSession, fmt: str, paths: list[str], opts: dict[str, str]
) -> str:
    name = _view_name(fmt, paths, opts)
    columns = opts.pop("__columns", None)
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", opts.pop("header", "true"))
        reader = reader.option("inferSchema", opts.pop("inferSchema", "true"))
    for k, v in opts.items():
        reader = reader.option(k, v)
    df = getattr(reader, fmt)(*paths)
    if columns:
        # DuckDB columns={'a':'INTEGER',...} — apply as cast-select
        # (DuckDB type names that Spark spells differently are mapped)
        pairs = re.findall(r"'(\w+)'\s*:\s*'([^']+)'", columns)
        if pairs:
            df = df.selectExpr(
                *[
                    f"CAST({c} AS {_spark_type(t)}) AS {c}"
                    for c, t in pairs
                ]
            )
    df.createOrReplaceTempView(name)
    return name


def expand_file_functions(spark: SparkSession, sql: str) -> tuple[str, bool]:
    """Replace file-reading calls / bare-path FROM sugar with
    freshly materialized temp views. Returns (rewritten_sql, used);
    ``used`` ⇒ bypass the analyzed-plan cache."""
    used = False
    # repeat until no calls remain (quoted spans shift after each edit)
    while calls := _code_matches(sql, _CALL_RE):
        m = calls[0]
        close = _find_matching_close(sql, m.end() - 1, _scan_states(sql))
        if close == -1:
            raise FileFunctionError(
                "unbalanced parentheses in file function call"
            )
        fn = m.group(1).lower()
        paths, opts = _parse_call(fn, sql[m.end() : close])
        name = _materialize(spark, _FMT[fn], paths, opts)
        sql = sql[: m.start()] + name + sql[close + 1 :]
        used = True
    # FROM 'file.ext' sugar
    def _sub(m: re.Match) -> str:
        nonlocal used
        path = m.group(2)
        fmt = _EXT_FMT[path.rsplit(".", 1)[-1].lower()]
        name = _materialize(spark, fmt, [path], {})
        used = True
        return f"{m.group(1)} {name}"

    sql = _sub_in_code(_FROM_FILE_RE, _sub, sql)
    return sql, used
