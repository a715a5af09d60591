"""Grammar-based dialect fuzzer: random DuckDB-dialect expressions
evaluated on DuckDB AND (through the rewriter) on Spark, values
compared.  The systematic companion to the hand-curated probe batches
— it explores COMPOSITIONS the single-function probes never hit
(nested arithmetic over mixed types, functions over function results,
CASE/COALESCE weaving, list pipelines).

Usage: python tests/dialect_fuzz.py [n_cases] [seed]
(runs n_cases of the expression/query families, then n_cases of the
SQL-as-data family)

Every mismatch prints the expression and both values; exit code 1 if
any mismatch survived the documented-divergence filter.  Deterministic
for a given (n_cases, seed).
"""

from __future__ import annotations

import math
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# --- expression grammar -----------------------------------------------------

INT_LITS = ["0", "1", "2", "3", "7", "10", "42", "-1", "-5", "100"]
DBL_LITS = ["0.5", "1.5", "2.75", "-0.5", "3.25", "10.0"]
STR_LITS = ["'a'", "'abc'", "'Hello World'", "''", "'a,b,c'", "'  pad  '"]
BOOL_LITS = ["true", "false"]


def g_int(r: random.Random, d: int) -> str:
    if d <= 0:
        return r.choice(INT_LITS)
    c = r.randrange(10)
    if c < 4:
        return r.choice(INT_LITS)
    if c == 4:
        return f"({g_int(r, d - 1)} + {g_int(r, d - 1)})"
    if c == 5:
        return f"({g_int(r, d - 1)} * {g_int(r, d - 1)})"
    if c == 6:
        return f"abs({g_int(r, d - 1)})"
    if c == 7:
        return f"length({g_str(r, d - 1)})"
    if c == 8:
        pick = r.randrange(4)
        if pick == 0:
            return f"({g_int(r, d - 1)} % {r.choice(['2', '3', '5', '0'])})"
        if pick == 1:
            return f"({g_int(r, d - 1)} // {r.choice(['2', '3', '0'])})"
        if pick == 2:
            # +0.001 keeps the fuzz off exact-.5 DOUBLE ties, where
            # DuckDB rounds half-even and the DECIMAL(38,0) wrap
            # rounds half-up — a documented divergence, not a bug
            return f"CAST(({g_dbl(r, d - 1)} + 0.001) AS INT)"
        return f"greatest({g_int(r, d - 1)}, {g_int(r, d - 1)})"
    return f"(CASE WHEN {g_bool(r, d - 1)} THEN {g_int(r, d - 1)} ELSE {g_int(r, d - 1)} END)"


def g_dbl(r: random.Random, d: int) -> str:
    if d <= 0:
        return r.choice(DBL_LITS)
    c = r.randrange(8)
    if c < 3:
        return r.choice(DBL_LITS)
    if c == 3:
        return f"({g_dbl(r, d - 1)} + {g_dbl(r, d - 1)})"
    if c == 4:
        return f"round({g_dbl(r, d - 1)}, {r.randrange(3)})"
    if c == 5:
        return f"sqrt(abs({g_dbl(r, d - 1)}))"
    if c == 6:
        return f"({g_int(r, d - 1)} / {r.choice(['2', '4', '5'])})"
    return f"coalesce({g_dbl(r, d - 1)}, {g_dbl(r, d - 1)})"


def g_str(r: random.Random, d: int) -> str:
    if d <= 0:
        return r.choice(STR_LITS)
    c = r.randrange(10)
    if c < 3:
        return r.choice(STR_LITS)
    if c == 3:
        return f"upper({g_str(r, d - 1)})"
    if c == 4:
        return f"lower({g_str(r, d - 1)})"
    if c == 5:
        return f"trim({g_str(r, d - 1)})"
    if c == 6:
        return f"concat({g_str(r, d - 1)}, {g_str(r, d - 1)})"
    if c == 7:
        return f"substring({g_str(r, d - 1)}, {r.randrange(1, 4)}, {r.randrange(1, 5)})"
    if c == 8:
        pick = r.randrange(3)
        if pick == 0:
            return f"replace({g_str(r, d - 1)}, 'a', 'z')"
        if pick == 1:
            return f"regexp_replace({g_str(r, d - 1)}, '[lo]', '_')"
        return (
            f"strftime(DATE '2024-03-{r.randrange(1, 29):02d}', "
            f"'{r.choice(['%Y-%m-%d', '%-m/%-d/%y', '%a %d %b', '%j', '%x'])}')"
        )
    return f"reverse({g_str(r, d - 1)})"


def g_bool(r: random.Random, d: int) -> str:
    if d <= 0:
        return r.choice(BOOL_LITS)
    c = r.randrange(8)
    if c < 2:
        return r.choice(BOOL_LITS)
    if c == 2:
        return f"({g_int(r, d - 1)} > {g_int(r, d - 1)})"
    if c == 3:
        return f"({g_str(r, d - 1)} = {g_str(r, d - 1)})"
    if c == 4:
        return f"({g_bool(r, d - 1)} AND {g_bool(r, d - 1)})"
    if c == 5:
        return f"({g_bool(r, d - 1)} OR {g_bool(r, d - 1)})"
    if c == 6:
        return f"(NOT {g_bool(r, d - 1)})"
    pick = r.randrange(4)
    if pick == 0:
        return (
            f"({g_str(r, d - 1)} LIKE "
            f"'{r.choice(['%a%', 'a_c', '%', 'He%', '%d'])}')"
        )
    if pick == 1:
        return f"({g_int(r, d - 1)} IN ({g_int(r, 0)}, {g_int(r, 0)}, NULL))"
    if pick == 2:
        # quantified subquery comparisons (batch-24/28).  Grammar
        # constraints mirror the documented surface: `= ALL`/`<> ANY`
        # are left-untouched loud errors; ordered ANY with NULL
        # elements diverges FALSE-vs-NULL in bare SELECT position
        # (WHERE-equivalent, documented) so its subquery stays
        # NULL-free; ordered ALL is exact three-valued incl. NULLs.
        kind = r.randrange(3)
        vals = [g_int(r, 0), g_int(r, 0)]
        if kind == 0:  # ordered ALL, NULLs allowed
            op = r.choice(["<", "<=", ">", ">="])
            quant = "ALL"
            if r.randrange(2):
                vals.append("NULL")
        elif kind == 1:  # ordered ANY/SOME, no NULL elements
            op = r.choice(["<", "<=", ">", ">="])
            quant = r.choice(["ANY", "SOME"])
        else:  # membership forms, NULLs allowed
            op, quant = r.choice([("=", "ANY"), ("<>", "ALL")])
            if r.randrange(2):
                vals.append("NULL")
        rows = ", ".join(f"({v})" for v in vals)
        return f"({g_int(r, 0)} {op} {quant} (VALUES {rows}))"
    return f"contains({g_str(r, d - 1)}, 'a')"


def g_list(r: random.Random, d: int) -> str:
    if d <= 0 or r.randrange(4) == 0:
        n = r.randrange(1, 4)
        return "[" + ", ".join(g_int(r, 0) for _ in range(n)) + "]"
    c = r.randrange(6)
    if c == 0:
        return f"list_sort({g_list(r, d - 1)})"
    if c == 1:
        # list_distinct is deliberately ABSENT: DuckDB's element order
        # is unspecified (hash-based) — any order-sensitive consumer
        # (slice, transform-by-index) legitimately diverges; documented
        return f"list_sort(list_distinct({g_list(r, d - 1)}))"
    if c == 2:
        return f"array_slice({g_list(r, d - 1)}, 1, 2)"
    if c == 3:
        return f"list_append({g_list(r, d - 1)}, {g_int(r, 0)})"
    if c == 4:
        return f"list_transform({g_list(r, d - 1)}, x -> x + 1)"
    return f"list_filter({g_list(r, d - 1)}, x -> x > 1)"


DATE_LITS = [
    "DATE '2024-01-15'", "DATE '2024-02-29'", "DATE '2023-12-31'",
    "DATE '2024-07-04'",
]
TS_LITS = [
    "TIMESTAMP '2024-03-05 07:08:09'",
    "TIMESTAMP '2024-01-01 00:00:00.5'",
    "TIMESTAMP '2023-12-31 23:59:59'",
]
INTERVAL_LITS = [
    "INTERVAL 1 DAY", "INTERVAL 3 HOUR", "INTERVAL 90 MINUTE",
    "INTERVAL 2 MONTH", "INTERVAL 1 YEAR",
]
_DATE_PARTS = ["year", "month", "day", "quarter", "dow", "isodow",
               "doy", "week", "decade"]


def g_date(r: random.Random, d: int) -> str:
    if d <= 0:
        return r.choice(DATE_LITS)
    c = r.randrange(6)
    if c < 2:
        return r.choice(DATE_LITS)
    if c == 2:
        return f"({g_date(r, d - 1)} + {r.randrange(1, 40)})"
    if c == 3:
        return f"CAST(date_trunc('month', {g_date(r, d - 1)}) AS DATE)"
    if c == 4:
        return f"last_day({g_date(r, d - 1)})"
    return f"greatest({g_date(r, 0)}, {g_date(r, 0)})"


def g_date_expr(r: random.Random, d: int) -> str:
    c = r.randrange(6)
    if c == 0:
        return f"date_part('{r.choice(_DATE_PARTS)}', {g_date(r, d)})"
    if c == 1:
        return (
            f"date_diff('{r.choice(['day', 'month', 'year', 'week'])}', "
            f"{g_date(r, d)}, {g_date(r, d)})"
        )
    if c == 2:
        return (
            f"CAST({r.choice(TS_LITS)} + {r.choice(INTERVAL_LITS)} "
            f"AS VARCHAR)"
        )
    if c == 3:
        return f"monthname({g_date(r, d)})"
    if c == 4:
        return f"CAST({g_date(r, d)} AS VARCHAR)"
    return (
        f"date_trunc('{r.choice(['week', 'month', 'quarter', 'year'])}',"
        f" {r.choice(TS_LITS)})"
    )


_JSON_LITS = [
    """'{"a": 1, "b": [1, 2, 3], "c": {"d": "x"}}'""",
    """'[10, 20, {"k": "v"}]'""",
    """'{"a": null, "b": "s"}'""",
    "'[]'", "'{}'", "'null'", "'3.5'", '\'"s"\'',
]
_JSON_KEYS = ["a", "b", "c", "d", "k", "zz"]


def g_json_expr(r: random.Random, d: int) -> str:
    """JSON compositions (r12) — the batch-17 surface, fuzz-composed.
    json_merge_patch key ORDER and chained arrow extraction are the
    shapes the hand probes never combined."""
    j = r.choice(_JSON_LITS)
    c = r.randrange(9)
    if c == 0:
        expr = j
        for _ in range(r.randrange(1, 3)):
            arrow = r.choice(["->", "->>"])
            key = r.choice(
                [f"'{r.choice(_JSON_KEYS)}'", str(r.randrange(4))]
            )
            expr = f"({expr} {arrow} {key})"
        return expr
    if c == 1:
        path = r.choice(["$.a", "$.b[1]", "$.c.d", "$.b", "$.zz"])
        fn = r.choice(["json_extract", "json_extract_string"])
        return f"{fn}({j}, '{path}')"
    if c == 2:
        return f"json_array_length({j})"
    if c == 3:
        return f"json_array_length({j}, '{r.choice(['b', '$.b'])}')"
    if c == 4:
        return (
            f"json_type({j})"
            if r.randrange(2)
            else f"json_type({j}, '{r.choice(_JSON_KEYS)}')"
        )
    if c == 5:
        return f"json_structure({j})"
    if c == 6:
        patch = r.choice(
            ['\'{"a": 9}\'', '\'{"a": null}\'', '\'{"z": [1]}\'',
             '\'{"c": {"d": null, "e": 2}}\'', "'7'"]
        )
        return f"json_merge_patch({j}, {patch})"
    if c == 7:
        needle = r.choice(["1", "20", '"s"'])
        return f"json_contains({j}, '{needle}')"
    return f"json_valid({j})"


def g_expr(r: random.Random, d: int) -> str:
    return r.choice(
        [g_int, g_dbl, g_str, g_bool, g_list, g_date_expr, g_json_expr]
    )(r, d)


# --- temporal mode (r12) ------------------------------------------------------
# Dates/intervals/timestamps and strftime/strptime round-trips — the
# surface that got the most r11 hand-patching (batches 22/25/26), so
# the highest residual-bug density.  Deliberately ABSENT (documented
# divergences, not bugs): to_timestamp()/timezone() (TIMESTAMPTZ
# renders '+00' in DuckDB), bare INTERVAL-valued results (DuckDB
# renders '01:30:00', Spark 'INTERVAL 90 MINUTE'), TIME type.

_TS_LITS2 = TS_LITS + [
    "TIMESTAMP '2024-02-29 23:59:59.999999'",
    "TIMESTAMP '1969-07-20 20:17:40'",
    "TIMESTAMP '2000-01-01 00:00:00'",
    "TIMESTAMP '2024-12-31 12:00:00.25'",
]
_IVAL_LITS2 = INTERVAL_LITS + [
    "INTERVAL 36 HOUR", "INTERVAL 1 WEEK", "INTERVAL 45 SECOND",
    "INTERVAL 500 MILLISECOND", "INTERVAL 7 QUARTER",
    "INTERVAL 18 MONTH",
]
_TS_PARTS = [
    "year", "quarter", "month", "day", "hour", "minute", "second",
    "millisecond", "microsecond", "dow", "isodow", "doy", "week",
    "epoch", "decade", "century", "millennium",
]
_DIFF_UNITS = [
    "year", "quarter", "month", "week", "day", "hour", "minute",
    "second", "millisecond", "microsecond",
]
_STRF_FMTS = [
    "%Y-%m-%d", "%Y-%m-%d %H:%M:%S", "%H:%M", "%I %p", "%j", "%U",
    "%W", "%w", "%a %A", "%b %B", "%d/%m/%Y", "%m/%d/%y", "%f", "%g",
    "%-d %-m %y", "%Y%m%d%H%M%S", "%% %Y",
]
_STRP_PAIRS = [
    ("05/03/2024 07:08", "%d/%m/%Y %H:%M"),
    ("2024-03-05", "%Y-%m-%d"),
    ("Mar 5 2024", "%b %d %Y"),
    ("2024-03-05 07:08:09", "%Y-%m-%d %H:%M:%S"),
    ("07:08:09 2024-03-05", "%H:%M:%S %Y-%m-%d"),
    ("5 March 2024", "%d %B %Y"),
    ("24-03-05", "%y-%m-%d"),
    ("2024-03-05 07:08:09.123456", "%Y-%m-%d %H:%M:%S.%f"),
    ("Tue, 05 Mar 2024", "%a, %d %b %Y"),
    ("2024-03-05 07:08 PM", "%Y-%m-%d %I:%M %p"),
]


def g_ts(r: random.Random, d: int) -> str:
    if d <= 0:
        return r.choice(_TS_LITS2)
    c = r.randrange(9)
    if c < 2:
        return r.choice(_TS_LITS2)
    if c == 2:
        return f"({g_ts(r, d - 1)} + {r.choice(_IVAL_LITS2)})"
    if c == 3:
        return f"({g_ts(r, d - 1)} - {r.choice(_IVAL_LITS2)})"
    if c == 4:
        part = r.choice(
            ["hour", "day", "minute", "month", "week", "year",
             "quarter", "second"]
        )
        # CAST: day-or-coarser date_trunc returns DATE on both engines,
        # and DATE ± INTERVAL diverges in result TYPE only (DuckDB →
        # TIMESTAMP, Spark keeps DATE under year-month intervals) — a
        # documented rendering divergence, so the grammar normalizes
        return f"CAST(date_trunc('{part}', {g_ts(r, d - 1)}) AS TIMESTAMP)"
    if c == 5:
        return f"greatest({g_ts(r, 0)}, {g_ts(r, 0)})"
    if c == 6:
        s, f = r.choice(_STRP_PAIRS)
        return f"strptime('{s}', '{f}')"
    if c == 7:
        return (
            f"make_timestamp(2024, {r.randrange(1, 13)}, "
            f"{r.randrange(1, 29)}, {r.randrange(24)}, "
            f"{r.randrange(60)}, {r.randrange(60)})"
        )
    return f"date_add({g_ts(r, d - 1)}, {r.choice(_IVAL_LITS2)})"


def g_temporal_query(r: random.Random) -> str:
    d = r.randrange(1, 3)
    c = r.randrange(11)
    if c == 0:
        return (
            f"SELECT date_part('{r.choice(_TS_PARTS)}', {g_ts(r, d)}) AS v"
        )
    if c == 1:
        return (
            f"SELECT strftime({g_ts(r, d)}, "
            f"'{r.choice(_STRF_FMTS)}') AS v"
        )
    if c == 2:
        s, f = r.choice(_STRP_PAIRS)
        return f"SELECT strftime(strptime('{s}', '{f}'), '{f}') AS v"
    if c == 3:
        return f"SELECT CAST({g_ts(r, d)} AS VARCHAR) AS v"
    if c == 4:
        unit = r.choice(_DIFF_UNITS)
        a, b = g_ts(r, d), g_ts(r, d)
        if unit == "week":
            # DuckDB 1.0's pre-epoch week diff is internally
            # inconsistent (documented divergence in
            # rewrite._fix_date_diff) — clamp week operands to post-epoch
            a = f"greatest({a}, TIMESTAMP '1970-01-05 00:00:00')"
            b = f"greatest({b}, TIMESTAMP '1970-01-05 00:00:00')"
        return f"SELECT date_diff('{unit}', {a}, {b}) AS v"
    if c == 5:
        return (
            f"SELECT CAST(age({g_ts(r, d)}, {g_ts(r, d)}) AS VARCHAR)"
            f" AS v"
        )
    if c == 6:
        fn = r.choice(["epoch", "epoch_ms", "epoch_us"])
        return f"SELECT {fn}({g_ts(r, d)}) AS v"
    if c == 7:
        fn = r.choice(["dayname", "monthname", "last_day"])
        return f"SELECT {fn}(CAST({g_ts(r, d)} AS DATE))::VARCHAR AS v"
    if c == 8:
        return (
            f"SELECT CAST(time_bucket(INTERVAL "
            f"{r.choice([5, 15, 30, 90])} MINUTE, {g_ts(r, d)}) "
            f"AS VARCHAR) AS v"
        )
    if c == 9:
        op = r.choice(["<", "<=", ">", ">=", "=", "<>"])
        return f"SELECT ({g_ts(r, d)} {op} {g_ts(r, d)}) AS v"
    return (
        f"SELECT ({g_ts(r, d)} BETWEEN {g_ts(r, 0)} AND {g_ts(r, 0)})"
        f" AS v"
    )


# --- aggregate-query mode ----------------------------------------------------
# A fixed inline table with a group key, ints (with NULLs), doubles,
# and strings; random aggregate expressions composed over it.

_AGG_TABLE = (
    "(VALUES (1, 1, 0.5, 'a'), (1, 2, 1.5, 'bb'), (1, NULL, 2.5, 'a'),"
    " (2, 4, -0.5, 'ccc'), (2, 5, 3.25, NULL), (3, 7, 0.25, 'dd'))"
    " t(g, i, d, s)"
)

_AGGS = [
    "sum(i)", "sum(d)", "avg(i)", "avg(CAST(d AS DOUBLE))", "min(i)",
    "max(d)", "count(*)", "count(i)", "count(DISTINCT s)",
    "stddev_pop(CAST(d AS DOUBLE))", "var_samp(CAST(d AS DOUBLE))",
    "median(i)", "bool_and(i > 0)", "bool_or(i > 4)",
    "count_if(i > 2)", "arg_min(s, i)", "arg_max(s, i)",
    "first(i ORDER BY i)", "last(i ORDER BY i)",
    "string_agg(s, '|' ORDER BY s)", "sum(i) FILTER (WHERE i > 1)",
    "bit_and(i)", "bit_or(i)", "geomean(CAST(abs(d) + 1 AS DOUBLE))",
    "entropy(s)", "skewness(CAST(d AS DOUBLE))",
    "kurtosis(CAST(d AS DOUBLE))", "product(CAST(i AS DOUBLE))",
    "quantile_disc(i, 0.5)", "sem(CAST(d AS DOUBLE))",
    "favg(d)", "fsum(d)",
    # mad() is ABSENT: it is a grouped-agg pandas UDF, and Spark cannot
    # mix those with JVM aggregates in one projection (loud
    # INVALID_PANDAS_UDF_PLACEMENT, documented in SURVEY)
]


# --- window-query mode -------------------------------------------------------

_WINS = [
    "row_number()",
    "rank()",
    "dense_rank()",
    "percent_rank()",
    "cume_dist()",
    "ntile(2)",
    "lag(i)",
    "lag(i, 2, -1)",
    "lead(i)",
    "first_value(i)",
    "last_value(i)",
    "nth_value(i, 2)",
    "sum(i)",
    "avg(CAST(d AS DOUBLE))",
    "min(i)",
    "max(d)",
    "count(*)",
]

_FRAMES = [
    "",
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
    " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
    " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
]


_EXCLUDE_FNS = ["sum(i)", "avg(CAST(d AS DOUBLE))", "count(*)", "count(i)"]
_EXCLUDE_FRAMES = [
    " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
    " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING",
    " ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING",
    " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    " RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
]


def g_window_query(r: random.Random) -> str:
    if r.randrange(4) == 0:
        # window-frame EXCLUDE arm (r13): sum/count/avg over the
        # supported frame × kind grid, min/max EXCLUDE CURRENT ROW
        # under ROWS (the _rewrite_window_exclude subset)
        part = r.choice(["", "PARTITION BY g "])
        frame = r.choice(_EXCLUDE_FRAMES)
        if r.randrange(4) == 0 and frame.strip().startswith("ROWS"):
            fn = r.choice(["min(i)", "max(d)"])
            kind = "CURRENT ROW"
        else:
            fn = r.choice(_EXCLUDE_FNS)
            kind = r.choice(
                ["CURRENT ROW", "GROUP", "GROUP", "TIES", "TIES"]
                if frame.strip().startswith("RANGE")
                else ["CURRENT ROW"]
            )
        if kind in ("GROUP", "TIES"):
            # peers need duplicate order keys; RANGE frames are
            # value-based so ties stay deterministic
            order = f"ORDER BY (i % 3) {r.choice(['', 'DESC'])}"
        else:
            # unique i: ROWS frames need a total order to replay
            order = f"ORDER BY i {r.choice(['', 'DESC'])}"
        return (
            f"SELECT g, i, {fn} OVER ({part}{order}{frame} "
            f"EXCLUDE {kind}) AS w "
            f"FROM {_AGG_TABLE} ORDER BY g, i"
        )
    fn = r.choice(_WINS)
    part = r.choice(["", "PARTITION BY g "])
    # i is unique (single NULL): total order is deterministic, and the
    # NULL-keyed variant exercises the NULLS-LAST default in windows
    order = f"ORDER BY i {r.choice(['', 'DESC'])}"
    frame = r.choice(_FRAMES)
    if fn in ("row_number()", "rank()", "dense_rank()", "percent_rank()",
              "cume_dist()", "ntile(2)", "lag(i)", "lag(i, 2, -1)",
              "lead(i)"):
        frame = ""  # ranking/offset functions take no frame
    where = r.choice(["WHERE i IS NOT NULL ", ""])
    return (
        f"SELECT g, i, {fn} OVER ({part}{order}{frame}) AS w "
        f"FROM {_AGG_TABLE} {where}ORDER BY g, i"
    )


# --- statement-sugar mode ----------------------------------------------------
# DuckDB statement forms (FROM-first, BY ALL, QUALIFY, DISTINCT ON,
# star modifiers) over the same inline table.


def g_stmt_query(r: random.Random) -> str:
    c = r.randrange(7)
    if c == 0:
        return f"FROM {_AGG_TABLE} SELECT g, i WHERE i > 2 ORDER BY g, i"
    if c == 1:
        return (
            f"SELECT g, sum(i) AS s FROM {_AGG_TABLE} "
            f"GROUP BY ALL ORDER BY ALL"
        )
    if c == 2:
        return (
            f"SELECT g, i FROM {_AGG_TABLE} WHERE i IS NOT NULL "
            f"QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) = 1 "
            f"ORDER BY g"
        )
    if c == 3:
        return (
            f"SELECT DISTINCT ON (g) g, i FROM {_AGG_TABLE} "
            f"WHERE i IS NOT NULL ORDER BY g, i"
        )
    if c == 4:
        return (
            f"SELECT * EXCLUDE (d, s) FROM {_AGG_TABLE} "
            f"WHERE i IS NOT NULL ORDER BY g, i"
        )
    if c == 5:
        return (
            f"SELECT * REPLACE (i * 10 AS i) FROM {_AGG_TABLE} "
            f"WHERE i IS NOT NULL ORDER BY g, i"
        )
    return (
        f"SELECT g, count(*) AS c FROM {_AGG_TABLE} "
        f"GROUP BY g HAVING count(*) > 1 ORDER BY g"
    )


# --- statement-composition mode (r13, verdict task 9) ------------------------
# Nested set operations (incl. BY NAME and 3-way chains), QUALIFY /
# DISTINCT ON / FROM-first inside CTE chains, and recursive CTEs —
# statement-level COMPOSITION the per-form probes never exercise.


def g_setop_query(r: random.Random) -> str:
    def filt() -> str:
        return r.choice(
            ["i > 2", "i <= 3", "i IS NOT NULL", "d > 1.0", "TRUE", "g = 'x'"]
        )

    a = f"SELECT g, i FROM {_AGG_TABLE} WHERE {filt()}"
    flipped = r.randrange(2)
    b_cols = "i, g" if flipped else "g, i"
    by = " BY NAME" if (flipped or r.randrange(2)) else ""
    ops = (
        ["UNION", "UNION ALL"]
        if by
        else ["UNION", "UNION ALL", "EXCEPT", "INTERSECT", "EXCEPT ALL",
              "INTERSECT ALL"]
    )
    op = r.choice(ops)
    b = f"SELECT {b_cols} FROM {_AGG_TABLE} WHERE {filt()}"
    q = f"({a}) {op}{by} ({b})"
    if r.randrange(2):
        c = f"SELECT g, i FROM {_AGG_TABLE} WHERE {filt()}"
        op2 = r.choice(["EXCEPT", "INTERSECT", "UNION", "UNION ALL"])
        by2 = " BY NAME" if (op2.startswith("UNION") and r.randrange(2)) else ""
        q = f"({q}) {op2}{by2} ({c})"
    return f"SELECT * FROM ({q}) ORDER BY ALL"


def g_cte_chain_query(r: random.Random) -> str:
    q1 = f"SELECT g, i, d FROM {_AGG_TABLE} WHERE i IS NOT NULL"
    if r.randrange(2):
        q1 += " QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) <= 2"
    mid = r.choice(
        [
            "SELECT g, sum(i) AS s FROM c1 GROUP BY ALL",
            "SELECT g, i AS s, i - lag(i) OVER (PARTITION BY g ORDER BY i)"
            " AS dl FROM c1",
            "SELECT DISTINCT ON (g) g, i AS s FROM c1 ORDER BY g, i DESC",
            "FROM c1 SELECT g, i AS s WHERE i > 1",
            "SELECT g, count(*) AS s FROM c1 GROUP BY g"
            " HAVING count(*) >= 1",
        ]
    )
    final = r.choice(
        [
            "SELECT * FROM c2 ORDER BY ALL",
            "SELECT count(*) AS n, sum(s) AS t FROM c2",
            "SELECT g, s FROM c2 QUALIFY"
            " rank() OVER (ORDER BY s, g) <= 3 ORDER BY ALL",
            # r13: BY NAME under a WITH prefix (CTE-replicating path)
            "SELECT g, s FROM c2 UNION ALL BY NAME"
            " SELECT s, g FROM c2 ORDER BY ALL",
        ]
    )
    return f"WITH c1 AS ({q1}), c2 AS ({mid}) {final}"


def g_recursive_query(r: random.Random) -> str:
    k = r.randrange(3, 9)
    v = r.randrange(3)
    if v == 0:
        inc = r.choice(["n + 1", "n + 2"])
        return (
            f"WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL "
            f"SELECT {inc} FROM t WHERE n < {k}) "
            f"SELECT count(*) AS c, sum(n) AS s FROM t"
        )
    if v == 1:
        return (
            f"WITH RECURSIVE t(n, s) AS (SELECT 1, 'a' UNION ALL "
            f"SELECT n + 1, s || 'b' FROM t WHERE n < {k}) "
            f"SELECT * FROM t ORDER BY n"
        )
    return (
        f"WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL "
        f"SELECT n + 1 FROM t WHERE n < {k}) "
        f"SELECT a.n AS x, b.n AS y FROM t a JOIN t b ON b.n = a.n + 1 "
        f"ORDER BY 1, 2"
    )


def g_join_query(r: random.Random) -> str:
    def filt() -> str:
        return r.choice(
            ["i > 2", "i IS NOT NULL", "d > 1.0", "TRUE", "g <> 2"]
        )

    jt = r.choice(
        ["JOIN", "LEFT JOIN", "FULL JOIN", "SEMI JOIN", "ANTI JOIN",
         "CROSS JOIN"]
    )
    a = f"(SELECT g, i FROM {_AGG_TABLE} WHERE {filt()}) a"
    b = f"(SELECT g AS h, i AS j FROM {_AGG_TABLE} WHERE {filt()}) b"
    if jt == "CROSS JOIN":
        cond = ""
    else:
        cond = " " + r.choice(
            ["ON a.g = b.h", "ON a.i = b.j",
             "ON a.g = b.h AND a.i < b.j"]
        )
    if jt in ("SEMI JOIN", "ANTI JOIN"):
        sel = "a.g, a.i"
    else:
        sel = "a.g AS ag, a.i AS ai, b.h AS bh, b.j AS bj"
    return f"SELECT {sel} FROM {a} {jt} {b}{cond} ORDER BY ALL"


def g_compose_query(r: random.Random) -> str:
    c = r.randrange(4)
    if c == 0:
        return g_setop_query(r)
    if c == 1:
        return g_cte_chain_query(r)
    if c == 2:
        return g_join_query(r)
    return g_recursive_query(r)


def g_agg_query(r: random.Random) -> str:
    n = r.randrange(1, 4)
    aggs = ", ".join(
        f"{r.choice(_AGGS)} AS a{k}" for k in range(n)
    )
    if r.randrange(3) == 0:
        return f"SELECT {aggs} FROM {_AGG_TABLE}"
    return (
        f"SELECT g, {aggs} FROM {_AGG_TABLE} GROUP BY g ORDER BY g"
    )


# --- SQL-as-data mode --------------------------------------------------------
# String literals whose TEXT is a construct the rewriter transforms in
# code position: the rewriter must leave quoted text alone, so length()
# and upper() of the literal agree on both engines. Each construct has
# no double quote and no backslash, so it also reads unchanged inside a
# double-quoted identifier.

REWRITTEN_CONSTRUCTS = [
    "count()",
    "x::INT[]",
    "x::FLOAT[2]",
    "CAST(x AS INT[])",
    "OFFSET 1 LIMIT 2",
    "FETCH FIRST 3 ROWS ONLY",
    "query_table('t')",
    "[1, 2, 3]",
    "l[1]",
    "l[1:2]",
    "{'a': 1}",
    "[x + 1 FOR x IN l]",
    "a ^ b",
    "a ** 2",
    "a // b",
    "a % b",
    "s ~ 'x'",
    "j ->> 'k'",
    "x > ANY (SELECT 1)",
    "x IN (VALUES (1))",
    "DISTINCT ON (a)",
    "USING SAMPLE 10%",
    "* REPLACE (a + 1 AS a)",
    "* EXCLUDE (a)",
    "s SIMILAR TO 'a.*'",
    "QUALIFY row_number() OVER () = 1",
    "list_value(1, 2)",
    "regexp_replace(s, 'a', 'b')",
    "epoch_ms(ts)",
    "date_diff('day', a, b)",
    "x::TIMESTAMPTZ",
    "CAST(x AS VARCHAR)",
    "CAST(x AS INT)",
    "INTERVAL 2 QUARTER",
    "LIMIT NULL",
    "rank() OVER ()",
    "BOOLEAN 't'",
    "GROUP BY ()",
    "x::XAXIS",
    "5!",
    "string_agg(s, ',' ORDER BY s)",
    "(FROM t)",
    "x ^@ 'a'",
    "s GLOB 'a*'",
    "map([1], [2])",
    "x::BIT",
]
_DATA_GLUE = ["", " ", ", ", "; ", " -- ", '"', "`", "(", ")"]


def sql_as_data_cases(n: int, seed: int):
    """``n`` statements reading a string literal made of one to three
    rewritten constructs; draws from its own ``random.Random(seed)``."""
    r = random.Random(seed)
    for _ in range(n):
        parts = [r.choice(REWRITTEN_CONSTRUCTS) for _ in range(r.randrange(1, 4))]
        text = r.choice(_DATA_GLUE).join(parts) + r.choice(_DATA_GLUE)
        lit = "'" + text.replace("'", "''") + "'"
        yield f"SELECT {r.choice(['length', 'upper'])}({lit}) AS v"


# list results compare element-wise; list_distinct ORDER is unspecified
# in DuckDB (hash-based) — sort list values before comparing
def norm(rows):
    import datetime as dt
    from decimal import Decimal

    def c(v):
        if isinstance(v, Decimal):
            v = float(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            if math.isinf(v):
                return "Inf" if v > 0 else "-Inf"
            return round(v, 9)
        if isinstance(v, (dt.datetime, dt.date)):
            return str(v)[:26]
        if isinstance(v, (list, tuple)):
            return tuple(sorted((c(x) for x in v), key=lambda z: (z is None, str(z))))
        return v

    return [tuple(c(x) for x in r) for r in rows]


def cases(n: int, seed: int):
    """The first ``n`` generated statements for ``seed``."""
    r = random.Random(seed)
    for _ in range(n):
        pick = r.randrange(10)
        if pick < 2:
            yield g_agg_query(r)
        elif pick == 2:
            yield g_window_query(r)
        elif pick == 3:
            yield g_stmt_query(r)
        elif pick in (4, 5):
            yield g_temporal_query(r)
        elif pick == 6:
            yield g_compose_query(r)
        else:
            yield f"SELECT {g_expr(r, r.randrange(2, 5))} AS v"


def run(spark, con, n: int, seed: int, generate=cases) -> tuple[int, list[str]]:
    """Run ``generate(n, seed)`` on the DuckDB connection ``con`` and,
    rewritten, on ``spark``. Returns (statements compared, one report
    per mismatch); statements DuckDB rejects are skipped."""
    from shaper_spark.rewrite import rewrite_statement

    mismatches: list[str] = []
    checked = 0
    for i, sql in enumerate(generate(n, seed)):
        try:
            cur = con.execute(sql)
            want_cols = [c[0] for c in cur.description]
            want = cur.fetchall()
        except Exception:
            continue  # invalid in DuckDB: nothing to be compatible with
        try:
            sub = sql
            if "BY NAME" in sub.upper():
                # BY NAME set ops expand at the ENGINE layer (schema
                # analysis needed) — mirror the statement pipeline
                from shaper_spark.engine import _expand_union_by_name

                sub, _ = _expand_union_by_name(spark, sub)
            df = spark.sql(rewrite_statement(sub).sql)
            got_cols = list(df.columns)
            got = [tuple(row) for row in df.collect()]
        except Exception as e:
            mismatches.append(
                f"[{i}] SPARK-ERR {sql}\n    duck={want!r}\n"
                f"    err={str(e).splitlines()[0][:120]}"
            )
            continue
        checked += 1
        # column-ORDER-insensitive like the driver's correctness gate
        # (sort columns by name): the engine-layer star expansion puts
        # * REPLACE columns in place, but the bare-rewrite fallback
        # appends them — a documented presentation difference
        if sorted(want_cols) == sorted(got_cols) and want_cols != got_cols:
            worder = sorted(range(len(want_cols)), key=lambda j: want_cols[j])
            gorder = sorted(range(len(got_cols)), key=lambda j: got_cols[j])
            want = [tuple(row[j] for j in worder) for row in want]
            got = [tuple(row[j] for j in gorder) for row in got]
        if norm(want) != norm(got):
            mismatches.append(
                f"[{i}] VALUE {sql}\n    duck={want!r}\n    spark={got!r}"
            )
    return checked, mismatches


def main() -> int:
    import duckdb

    from shaper_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 11
    spark = get_spark("dialect_fuzz", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    failed = False
    for generate in (cases, sql_as_data_cases):
        checked, mismatches = run(spark, duckdb.connect(), n, seed, generate)
        for report in mismatches:
            print(report)
        print(
            f"\n{generate.__name__}: {checked} compared, "
            f"{len(mismatches)} mismatches (n={n}, seed={seed})"
        )
        failed = failed or bool(mismatches)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
