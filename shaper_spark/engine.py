"""Dashboard executor: multi-statement SQL script → JSON render tree.

Behavior parity with reference server/core/get_dashboard.go:38-400
(QueryDashboard): strip comments → split statements → gate → rewrite
(dialect + custom-type tags) → execute via ``spark.sql`` → classify
(label / section / control / chart / table) → normalize values → emit a
result tree of Sections → Queries → {Render, Columns, Rows}.

Scale notes: each statement is one Catalyst-planned query; the 3000-row
cap is applied as ``df.limit(3001)`` so it is pushed into the plan
(CollectLimit) instead of truncating after a full materialization like
the reference does client-side. Statements of one render that do not
depend on each other collect at the same time on a shared pool; the
tree is still assembled in script order (``_query_dashboard_loop``).
"""

from __future__ import annotations

import base64
import copy
import hashlib
import datetime as dt
import json
import re
import threading
import time
import urllib.parse
from collections import OrderedDict
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from . import sqltool
from .enums import expand_enum_surface, try_execute_type_ddl
from .filefuncs import expand_file_functions
from .normalize import map_wire_type, normalize_rows
from .render import (
    Column,
    MarkLine,
    RenderInfo,
    can_start_section,
    find_column_by_tag,
    get_render_info,
    interval_to_ms,
    is_footer_link,
    is_header_image,
    is_label,
    is_reload,
    is_section_title,
    map_tag,
)
from .rewrite import (
    _GETVAR_RE,
    find_variable_refs,
    lower_from_first,
    rewrite_statement,
)
from .sequences import expand_sequence_calls, try_execute_sequence_ddl
from .sqltool import (
    _depth0_commas,
    _depth0_matches,
    _find_matching_close,
    _find_matching_open,
    _paren_depths,
    _scan_states,
    _split_top_level_args,
    _sub_in_code,
)
from .tablefuncs import expand_information_schema, expand_table_functions

__all__ = ["query_dashboard", "GetResult", "Section", "Query", "QUERY_MAX_ROWS"]

QUERY_MAX_ROWS = 3000

_SET_VARIABLE_RE = re.compile(
    r"^\s*SET\s+VARIABLE\s+(?:\"([^\"]+)\"|(\w+))\s*=\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_RESET_VARIABLE_RE = re.compile(
    r"^\s*RESET\s+VARIABLE\s+(?:\"([^\"]+)\"|(\w+))\s*$", re.IGNORECASE
)
# TEMP is optional: tasks may CREATE MACRO without it (the macro row of
# _STATEMENT_KINDS matches both); the dashboard gate still admits only
# the TEMP forms, like the reference
_CREATE_MACRO_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:(?:TEMP|TEMPORARY)\s+)?"
    r"(?:MACRO|FUNCTION)\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s*\(([^)]*)\)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TEMP_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP|TEMPORARY)\s+TABLE\s+", re.IGNORECASE
)
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")

# Statements whose leading keyword guarantees read-only semantics in
# Spark SQL — the only ones the analyzed-plan cache may memoize (any
# command statement executes eagerly inside spark.sql()).
_READONLY_HEADS = frozenset(
    {"SELECT", "WITH", "FROM", "VALUES", "TABLE", "DESC", "DESCRIBE",
     "SHOW", "EXPLAIN"}
)


@dataclass
class Query:
    render: dict[str, Any] = field(default_factory=dict)
    columns: list[Column] = field(default_factory=list)
    rows: list[list[Any]] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        return {
            "render": self.render,
            "columns": [
                {
                    "name": c.name,
                    "type": c.type,
                    "nullable": c.nullable,
                    "tag": c.tag,
                }
                for c in self.columns
            ],
            "rows": self.rows,
        }


@dataclass
class Section:
    type: str = "content"
    title: str | None = None
    queries: list[Query] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        return {
            "type": self.type,
            "title": self.title,
            "queries": [q.to_dict() for q in self.queries],
        }


@dataclass
class GetResult:
    name: str = ""
    sections: list[Section] = field(default_factory=list)
    min_time_value: int | None = None
    max_time_value: int | None = None
    reload_at: int = 0
    header_image: str | None = None
    footer_link: str | None = None
    unset_variables: list[str] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "name": self.name,
            "sections": [s.to_dict() for s in self.sections],
            "minTimeValue": self.min_time_value,
            "maxTimeValue": self.max_time_value,
            "reloadAt": self.reload_at,
        }
        if self.header_image:
            d["headerImage"] = self.header_image
        if self.footer_link:
            d["footerLink"] = self.footer_link
        if self.unset_variables:
            d["unsetVariables"] = self.unset_variables
        return d


class DashboardError(Exception):
    pass


# ---------------------------------------------------------------------------
# SQL macros (DuckDB CREATE TEMP MACRO → textual expansion)
# ---------------------------------------------------------------------------

@dataclass
class _Macro:
    name: str
    params: list[str]
    defaults: dict[str, str]
    body: str


def _parse_macro(sql: str) -> _Macro | None:
    m = _CREATE_MACRO_RE.match(sql)
    if not m:
        return None
    name, paramlist, body = m.group(1), m.group(2), m.group(3).strip()
    # TABLE macro (CREATE MACRO t(n) AS TABLE SELECT …): the stripped
    # body is a subquery — the expander's parenthesis wrap makes the
    # FROM-position call a derived table (batch-26)
    if re.match(r"TABLE\b", body, re.IGNORECASE):
        body = body[5:].lstrip()
    params: list[str] = []
    defaults: dict[str, str] = {}
    for p in paramlist.split(","):
        p = p.strip()
        if not p:
            continue
        if ":=" in p:
            pname, dflt = p.split(":=", 1)
            params.append(pname.strip())
            defaults[pname.strip()] = dflt.strip()
        else:
            params.append(p)
    return _Macro(name=name, params=params, defaults=defaults, body=body)


def _expand_macros(sql: str, macros: dict[str, _Macro]) -> str:
    """Inline macro calls textually (DuckDB evaluates macros lazily with
    the same effect for scalar macros)."""
    if not macros:
        return sql
    for _ in range(16):  # bounded nesting
        states = _scan_states(sql)
        replaced = False
        for name, macro in macros.items():
            for m in re.finditer(rf"\b{re.escape(name)}\s*\(", sql, re.IGNORECASE):
                if states[m.start()] != 0:
                    continue
                open_pos = m.end() - 1
                close_pos = _find_matching_close(sql, open_pos, states)
                if close_pos < 0:
                    continue
                args = _split_top_level_args(sql[open_pos + 1 : close_pos])
                binding = dict(macro.defaults)
                positional = []
                for a in args:
                    am = re.match(r"([A-Za-z_]\w*)\s*:=\s*(.+)$", a, re.DOTALL)
                    if am and am.group(1) in macro.params:
                        binding[am.group(1)] = am.group(2).strip()
                    else:
                        positional.append(a)
                for pname, a in zip(
                    [p for p in macro.params if p not in binding], positional
                ):
                    binding[pname] = a
                for pname, a in zip(macro.params, positional):
                    binding.setdefault(pname, a)
                body = macro.body
                for pname, a in binding.items():
                    body = re.sub(rf"\b{re.escape(pname)}\b", f"({a})", body)
                sql = sql[: m.start()] + "(" + body + ")" + sql[close_pos + 1 :]
                replaced = True
                break
            if replaced:
                break
        if not replaced:
            return sql
    return sql


# ---------------------------------------------------------------------------
# SUMMARIZE
# ---------------------------------------------------------------------------

_DUCK_PIVOT_RE = re.compile(
    r"^PIVOT\s+(?P<table>[A-Za-z_][\w.]*)\s+ON\s+(?P<on>[A-Za-z_]\w*)"
    r"(?:\s+USING\s+(?P<using>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>[\w\s,]+?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<order>[\w\s,]+?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _run_duck_pivot(spark: SparkSession, sql: str):
    """DuckDB's simplified ``PIVOT t ON col [USING agg] [GROUP BY …]``
    (SURVEY §2A gap): pivot values are auto-discovered from the data —
    exactly what DuckDB's macro expansion does — then executed as a
    DataFrame groupBy().pivot(values).agg(). Returns None if the text
    isn't the sugar form (standard PIVOT runs through spark.sql)."""
    from pyspark.sql import functions as F

    m = _DUCK_PIVOT_RE.match(sql.strip().rstrip(";"))
    if not m:
        return None
    table, on = m.group("table"), m.group("on")
    using = (m.group("using") or "count(*)").strip()
    df = spark.table(table)
    values = [
        r[0]
        for r in df.select(on).distinct().dropna().orderBy(on).limit(1000).collect()
    ]
    # USING may list several aggregates with aliases
    # ("USING count(*) AS c, max(x) AS m" → value_c, value_m columns,
    # value-major — the same naming DuckDB's macro produces)
    agg_items = []
    for item in _split_top_level_args(using):
        am = re.match(
            r"^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$",
            item.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if am:
            agg_items.append((am.group(1).strip(), am.group(2)))
        else:
            agg_items.append((item.strip(), None))
    if m.group("group"):
        group_cols = [c.strip() for c in m.group("group").split(",")]
    else:
        # DuckDB semantics: group by every remaining column not consumed
        # by the ON column or the aggregate expressions.
        used = {on.lower()}
        for ident in re.findall(r"[A-Za-z_]\w*", using):
            used.add(ident.lower())
        group_cols = [c for c in df.columns if c.lower() not in used]
    aggs = [
        F.expr(e).alias(a) if a else F.expr(e) for e, a in agg_items
    ]
    out = df.groupBy(*group_cols).pivot(on, values).agg(*aggs)
    # DuckDB's pivot fills empty count cells with 0, Spark with NULL.
    count_fill = []
    for e, a in agg_items:
        if not e.lower().startswith("count"):
            continue
        if len(agg_items) == 1 and a is None:
            count_fill = [c for c in out.columns if c not in group_cols]
            break
        suffix = f"_{a}" if a else f"_{e}"
        count_fill.extend(
            c
            for c in out.columns
            if c not in group_cols and c.endswith(suffix)
        )
    if count_fill:
        out = out.fillna(0, subset=count_fill)
    if m.group("order"):
        out = out.orderBy(*[c.strip() for c in m.group("order").split(",")])
    if m.group("limit"):
        out = out.limit(int(m.group("limit")))
    return out


_POSJOIN_RE = re.compile(r"\bPOSITIONAL\s+JOIN\b", re.IGNORECASE)
_POSJOIN_STOP_KW = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "UNION",
    "INTERSECT", "EXCEPT", "POSITIONAL", "JOIN", "LEFT", "RIGHT",
    "FULL", "INNER", "CROSS", "ON", "USING", "OFFSET", "FETCH",
    "WINDOW", "SELECT",
}


def _parse_relation_forward(sql: str, i: int, states) -> int:
    """End index (exclusive) of a relation starting at ``i``:
    ``(subquery) [AS] alias [(cols)]`` or ``ident[.ident]* [alias]``."""
    n = len(sql)
    while i < n and sql[i].isspace():
        i += 1
    if i < n and sql[i] == "(":
        close = _find_matching_close(sql, i, states)
        if close == -1:
            return -1
        j = close + 1
    else:
        m = re.match(r'[A-Za-z_][\w.]*|"[^"]+"', sql[i:])
        if not m:
            return -1
        j = i + m.end()
    k = j
    while k < n and sql[k].isspace():
        k += 1
    am = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)", sql[k:], re.IGNORECASE)
    if am and am.group(1).upper() not in _POSJOIN_STOP_KW:
        j = k + am.end()
        k = j
        while k < n and sql[k].isspace():
            k += 1
        if k < n and sql[k] == "(":  # alias column list
            close = _find_matching_close(sql, k, states)
            if close != -1:
                j = close + 1
    return j


def _expand_positional_joins(spark: SparkSession, sql: str):
    """DuckDB ``a POSITIONAL JOIN b``: pair rows by position, pad the
    shorter side with NULLs (sql_validation parity gap closed r12).
    Spark has no row-position concept, so each side is evaluated and
    indexed with ``rdd.zipWithIndex()`` — order-preserving within and
    across partitions, i.e. file order for single-file parquet and
    literal order for VALUES — then full-outer-joined on the index
    into a temp view that replaces the pair in the FROM clause
    (chained positional joins fold left through the loop).

    Documented limits: column references qualified by the ORIGINAL
    relation aliases don't resolve through the combined view (loud
    analysis error — use unqualified names), and multi-file tables
    take Spark's file listing order.  Scale note: positional joins
    are order-DEFINED operations; the zipWithIndex pass is one extra
    traversal per side and the join shuffles on the row index — the
    honest distributed cost of an order-based join."""
    used = False
    while True:
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in _POSJOIN_RE.finditer(sql)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql, used
        # right relation
        rend = _parse_relation_forward(sql, m.end(), states)
        if rend == -1:
            return sql, used
        right = sql[m.end() : rend].strip()
        # left relation: back to the governing FROM (same paren depth),
        # then the LAST top-level comma piece before the keyword
        depths = _paren_depths(sql, states)
        from_m = None
        for fm in re.finditer(r"\bFROM\b", sql[: m.start()], re.IGNORECASE):
            if states[fm.start()] == 0 and depths[fm.start()] == depths[
                m.start()
            ]:
                from_m = fm
        if from_m is None:
            return sql, used
        between = sql[from_m.end() : m.start()]
        commas = _depth0_commas(between, _scan_states(between), 0, len(between))
        last_comma = commas[-1] if commas else -1
        left = between[last_comma + 1 :].strip()
        if not left:
            return sql, used
        prefix_rels = between[: last_comma + 1]

        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StructField, StructType

        def indexed(rel: str, tag: str):
            df = spark.sql(rewrite_statement(f"SELECT * FROM {rel}").sql)
            schema = StructType(
                list(df.schema.fields)
                + [StructField(f"__pos_{tag}", LongType(), False)]
            )
            rdd = df.rdd.zipWithIndex().map(lambda t: (*t[0], t[1]))
            return spark.createDataFrame(rdd, schema)

        li = indexed(left, "l")
        ri = indexed(right, "r")
        joined = (
            li.join(ri, li["__pos_l"] == ri["__pos_r"], "full_outer")
            .orderBy(F.coalesce(li["__pos_l"], ri["__pos_r"]))
            .drop("__pos_l", "__pos_r")
        )
        # View name = content hash of the (left, right) pair (r12
        # ADVICE): a dashboard re-rendering the same POSITIONAL JOIN
        # reuses ONE view name instead of leaking a numbered view per
        # render — createOrReplaceTempView re-binds the fresh plan, so
        # data stays current while the catalog stays bounded.
        digest = hashlib.md5(
            (left + "\x1f" + right).encode("utf-8")
        ).hexdigest()[:12]
        vname = f"__posjoin_{digest}"
        joined.createOrReplaceTempView(vname)
        sql = (
            sql[: from_m.end()]
            + prefix_rels
            + " "
            + vname
            + sql[rend:]
        )
        used = True


def _expand_nested_pivots(spark: SparkSession, sql: str):
    """Replace every parenthesized ``(PIVOT …)`` group (CTE body,
    derived table) with a temp view over the executed sugar — DuckDB
    macro-expands the same form before binding, so nesting it anywhere
    a relation can appear is legal there. Returns (sql, used)."""
    used = False
    for _ in range(16):
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in re.finditer(r"\(\s*PIVOT\b", sql, re.IGNORECASE)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql, used
        close = _find_matching_close(sql, m.start(), states)
        if close == -1:
            return sql, used
        inner = sql[m.start() + 1 : close].strip()
        df = _run_duck_pivot(spark, inner)
        if df is None:
            return sql, used
        name = f"__pivot_{abs(hash(inner)) % 10**8}"
        df.createOrReplaceTempView(name)
        # keep the parens and wrap in a SELECT so the substitution is
        # valid both as a derived table and as a CTE body
        sql = (
            sql[: m.start()]
            + f"(SELECT * FROM {name})"
            + sql[close + 1 :]
        )
        used = True
    return sql, used


_COLUMNS_MACRO_RE = re.compile(r"\bCOLUMNS\s*\(", re.IGNORECASE)


def _expand_columns_macro(spark: SparkSession, sql: str):
    """DuckDB's ``COLUMNS('regex')`` / ``COLUMNS(*)`` star macro
    (tuple_column_expressions): expands to the FROM relation's matching
    columns, schema-resolved against the catalog — which is why this
    runs at the ENGINE layer after file-function expansion (a
    ``read_parquet(…)`` source is already a temp view here), not in
    the text rewriter.  A directly wrapping single-argument call
    distributes over the expansion (``min(COLUMNS(*))`` →
    ``min(c1), min(c2), …``), DuckDB's macro semantics.  Single-
    relation FROM only; lambda/EXCLUDE forms are unsupported and raise
    a named error.  Returns (sql, used)."""
    used = False
    for _ in range(32):
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in _COLUMNS_MACRO_RE.finditer(sql)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql, used
        close = _find_matching_close(sql, m.end() - 1, states)
        if close == -1:
            return sql, used
        arg = sql[m.end() : close].strip()
        # resolve the FROM relation AFTER this position
        fm = next(
            (
                fmm
                for fmm in re.finditer(r"\bFROM\s+", sql, re.IGNORECASE)
                if states[fmm.start()] == 0 and fmm.start() > close
            ),
            None,
        )
        tm = (
            re.match(r"([A-Za-z_][\w.]*)", sql[fm.end() :]) if fm else None
        )
        if tm is None:
            raise ValueError(
                "COLUMNS(...) needs a single named FROM relation to "
                "resolve against (subquery/join sources unsupported)"
            )
        try:
            all_cols = spark.table(tm.group(1)).columns
        except Exception:
            raise ValueError(
                f"COLUMNS(...): cannot resolve relation "
                f"{tm.group(1)!r} in the catalog"
            )
        if arg == "*":
            cols = all_cols
        elif arg.startswith("'") and arg.endswith("'"):
            pat = re.compile(arg[1:-1])
            cols = [c for c in all_cols if pat.search(c)]
        else:
            raise ValueError(
                "COLUMNS(...) supports only a regex string literal or "
                "* (lambda/EXCLUDE forms unsupported)"
            )
        if not cols:
            raise ValueError(
                f"COLUMNS({arg}) matched no columns of {tm.group(1)}"
            )
        # a directly-wrapping single-arg call distributes elementwise
        head = sql[: m.start()].rstrip()
        wrap = re.search(r"([A-Za-z_]\w*)\s*\($", head)
        if wrap and sql[close + 1 :].lstrip().startswith(")"):
            fn = wrap.group(1)
            wclose = sql.index(")", close + 1)
            repl = ", ".join(
                f"{fn}(`{c}`) AS `{fn}({c})`" for c in cols
            )
            # head is a whitespace-stripped prefix of sql, so indices
            # into head are indices into sql
            sql = sql[: wrap.start(1)] + repl + sql[wclose + 1 :]
        else:
            repl = ", ".join(f"`{c}`" for c in cols)
            sql = sql[: m.start()] + repl + sql[close + 1 :]
        used = True
    return sql, used


_UNNEST_CALL_RE = re.compile(r"\bunnest\s*\(", re.IGNORECASE)


def _expand_recursive_unnest(spark: SparkSession, sql: str):
    """DuckDB ``unnest(expr, recursive := true)`` (r11): fully flatten
    nested lists and expand structs into one column per LEAF field
    (DuckDB names output columns by leaf key —
    ``unnest([{'x':1,'n':{'m':5}}], recursive := true)`` → columns
    ``x, m``).  Schema-resolved at the engine layer like COLUMNS():
    the expression's type is probed by analyzing the query with the
    call replaced by the bare expression, then the call becomes

    * nested lists of scalars → ``explode(flatten(…))``
    * a list of structs → ``inline(…)`` (nested struct fields
      pre-flattened inside a ``transform`` into a flat struct)
    * a bare struct → its leaf-field projection

    Struct leaves that are lists stay lists (DuckDB does the same).
    ``recursive := false`` degrades to plain unnest;
    ``max_depth :=`` raises a named error.  Returns (sql, used)."""
    from pyspark.sql.types import ArrayType, StructType

    def _leaves(prefix: str, dtype: StructType, out: list) -> None:
        for f in dtype.fields:
            child = f"{prefix}.`{f.name}`"
            if isinstance(f.dataType, StructType):
                _leaves(child, f.dataType, out)
            else:
                out.append((child, f.name))

    used = False
    for _ in range(16):
        states = _scan_states(sql)
        done = True
        for m in _UNNEST_CALL_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            close = _find_matching_close(sql, m.end() - 1, states)
            if close == -1:
                continue
            args = _split_top_level_args(sql[m.end() : close])
            rec = next(
                (
                    a
                    for a in args
                    if re.match(r"\s*recursive\s*:=", a, re.IGNORECASE)
                ),
                None,
            )
            if rec is None:
                continue
            if any(
                re.match(r"\s*max_depth\s*:=", a, re.IGNORECASE)
                for a in args
            ):
                raise ValueError(
                    "unnest(max_depth := …) is not supported; "
                    "recursive := true flattens fully"
                )
            expr = args[0].strip()
            if not re.match(
                r"\s*recursive\s*:=\s*true\s*$", rec,
                re.IGNORECASE | re.DOTALL,
            ):
                sql = (
                    sql[: m.start()]
                    + f"unnest({expr})"
                    + sql[close + 1 :]
                )
                used, done = True, False
                break
            # optional trailing alias — kept for the scalar explode,
            # dropped (multi-column output) otherwise
            am = re.match(
                r"\s+AS\s+(`[^`]+`|[A-Za-z_]\w*)", sql[close + 1 :],
                re.IGNORECASE,
            )
            span_end = close + 1 + (am.end() if am else 0)
            alias = am.group(1) if am else None
            probe = (
                sql[: m.start()]
                + f"({expr}) AS __ru_probe"
                + sql[span_end:]
            )
            try:
                ptype = next(
                    f.dataType
                    for f in spark.sql(
                        rewrite_statement(probe).sql
                    ).schema.fields
                    if f.name == "__ru_probe"
                )
            except Exception as e:
                raise ValueError(
                    "unnest(recursive := true): cannot resolve the "
                    f"expression's type here ({e})"
                ) from None
            inner = expr
            while isinstance(ptype, ArrayType) and isinstance(
                ptype.elementType, ArrayType
            ):
                inner = f"flatten({inner})"
                ptype = ptype.elementType
            if isinstance(ptype, ArrayType) and isinstance(
                ptype.elementType, StructType
            ):
                st = ptype.elementType
                if any(
                    isinstance(f.dataType, StructType) for f in st.fields
                ):
                    cols: list = []
                    _leaves("__ru_s", st, cols)
                    flat = ", ".join(
                        f"{c} AS `{n}`" for c, n in cols
                    )
                    repl = (
                        f"inline(transform({inner}, "
                        f"__ru_s -> struct({flat})))"
                    )
                else:
                    repl = f"inline({inner})"
            elif isinstance(ptype, ArrayType):
                repl = f"explode({inner})"
                if alias:
                    repl += f" AS {alias}"
            elif isinstance(ptype, StructType):
                cols = []
                _leaves(f"({expr})", ptype, cols)
                repl = ", ".join(f"{c} AS `{n}`" for c, n in cols)
            else:
                raise ValueError(
                    "unnest(recursive := true) needs a LIST or STRUCT "
                    f"expression, got {ptype.simpleString()}"
                )
            sql = sql[: m.start()] + repl + sql[span_end:]
            used, done = True, False
            break
        if done:
            return sql, used
    return sql, used


_UNION_BY_NAME_RE = re.compile(
    r"\bUNION\s+(ALL\s+)?BY\s+NAME\b", re.IGNORECASE
)
# the clauses of a BY NAME union's last side that bind to the whole union
_UNION_TAIL_RE = re.compile(r"\b(ORDER\s+BY|LIMIT|OFFSET|FETCH)\b", re.IGNORECASE)


_STAR_REPLACE_ENGINE_RE = re.compile(
    r"(?<![\w.])\*\s+REPLACE\s*\(", re.IGNORECASE
)


def _expand_star_replace_ordered(spark: SparkSession, sql: str):
    """``SELECT * REPLACE (expr AS col) FROM t`` with a resolvable
    single-relation FROM: expand to the full ordered column list with
    the replacement IN PLACE — DuckDB keeps the column position, and
    the text rewriter's ``* EXCEPT`` fallback (kept for join/subquery
    sources) moves it to the end.  Returns (sql, used)."""
    used = False
    for _ in range(8):
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in _STAR_REPLACE_ENGINE_RE.finditer(sql)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql, used
        open_paren = sql.index("(", m.start())
        end = _find_matching_close(sql, open_paren, states)
        if end == -1:
            return sql, used
        items = _split_top_level_args(sql[open_paren + 1 : end])
        repl: dict[str, str] = {}
        for it in items:
            am = re.search(
                r"^(.*)\bAS\s+[`\"]?(\w+)[`\"]?\s*$",
                it.strip(),
                re.IGNORECASE | re.DOTALL,
            )
            if am is None:
                return sql, used  # not the simple form: fallback
            repl[am.group(2).lower()] = am.group(1).strip()
        fm = next(
            (
                fmm
                for fmm in re.finditer(r"\bFROM\s+", sql, re.IGNORECASE)
                if states[fmm.start()] == 0 and fmm.start() > end
            ),
            None,
        )
        tm = re.match(r"([A-Za-z_][\w.]*)\s*$|([A-Za-z_][\w.]*)", sql[fm.end() :]) if fm else None
        if tm is None:
            return sql, used
        name = tm.group(1) or tm.group(2)
        # a join/second relation after the name → fallback to EXCEPT
        rest = sql[fm.end() + tm.end() :].lstrip()
        if rest[:1] == "," or re.match(
            r"(JOIN|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL|ASOF|POSITIONAL)\b",
            rest,
            re.IGNORECASE,
        ):
            return sql, used
        try:
            cols = spark.table(name).columns
        except Exception:
            return sql, used
        if not all(c in {x.lower() for x in cols} for c in repl):
            return sql, used
        proj = ", ".join(
            f"({repl[c.lower()]}) AS `{c}`" if c.lower() in repl else f"`{c}`"
            for c in cols
        )
        sql = sql[: m.start()] + proj + sql[end + 1 :]
        used = True
    return sql, used


_EXCLUDE_NO_OTHERS_RE = re.compile(r"\bEXCLUDE\s+NO\s+OTHERS\b", re.IGNORECASE)


def _reject_unsupported_duckisms(sql: str) -> str:
    """Documented-divergence guard: DuckDB forms whose semantics Spark
    cannot reproduce get a NAMED error with a workaround instead of an
    opaque ParseException.  ``EXCLUDE NO OTHERS`` is the SQL default
    and is simply dropped."""
    sql = _sub_in_code(_EXCLUDE_NO_OTHERS_RE, "", sql)
    # window-frame EXCLUDE CURRENT ROW/GROUP/TIES is no longer
    # rejected here: r13 implements the sum/count/avg/min/max subset
    # via _rewrite_window_exclude (rewrite.py), which raises the named
    # error itself for the residual combinations.
    # POSITIONAL JOIN is no longer rejected here: r12 implements it
    # via _expand_positional_joins (zipWithIndex full-outer), which
    # runs BEFORE this gate.
    return sql


def _expand_union_by_name(spark: SparkSession, sql: str):
    """Apply the BY NAME expansion at EVERY nesting depth (r13
    statement-composition fuzz find: ``SELECT * FROM ((q1) UNION ALL
    BY NAME (q2))`` and 3-way chains left the sugar for Spark's
    parser): the depth-0 pass first, then each remaining BY NAME
    inside its innermost enclosing paren group, expanded in place —
    the ``_rewrite_qualify_all`` recursion pattern."""
    sql, used = _expand_union_by_name_level(spark, sql)
    for _ in range(16):  # nesting bound; each pass clears one group
        states = _scan_states(sql)
        target = None
        for m in _UNION_BY_NAME_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            open_pos = _find_matching_open(sql, m.start(), states)
            if open_pos != -1:
                target = (m, open_pos)
                break
        if target is None:
            return sql, used
        m, open_pos = target
        close = _find_matching_close(sql, open_pos, states)
        if close == -1:
            return sql, used
        inner = sql[open_pos + 1 : close]
        new_inner, u2 = _expand_union_by_name_level(spark, inner)
        if not u2:
            return sql, used  # not expandable where it sits
        sql = sql[: open_pos + 1] + new_inner + sql[close:]
        used = True
    return sql, used


def _cte_prefix_end(sql: str, states: list[int]) -> int | None:
    """End index of a leading ``WITH [RECURSIVE]`` CTE list — the
    position where the main query begins — or None when the prefix
    doesn't parse (r13, for BY-NAME-under-WITH side replication)."""
    m = re.match(r"\s*WITH\s+(?:RECURSIVE\s+)?", sql, re.IGNORECASE)
    if m is None:
        return None
    cte_head = re.compile(
        r'\s*("[^"]+"|`[^`]+`|[A-Za-z_]\w*)\s*(\([^()]*\)\s*)?'
        r"AS\s+(?:NOT\s+MATERIALIZED\s+|MATERIALIZED\s+)?\(",
        re.IGNORECASE,
    )
    i = m.end()
    while True:
        mm = cte_head.match(sql, i)
        if mm is None:
            return None
        close = _find_matching_close(sql, mm.end() - 1, states)
        if close == -1:
            return None
        i = close + 1
        cm = re.compile(r"\s*,").match(sql, i)
        if cm is None:
            return i
        i = cm.end()


def _expand_union_by_name_level(spark: SparkSession, sql: str):
    """DuckDB ``q1 UNION [ALL] BY NAME q2`` → positional UNION over
    name-aligned projections, for BY NAME at depth 0 of ``sql``.
    Spark SQL has no BY NAME form, and a text rewrite needs the
    sides' schemas — so each side is analyzed into a temp view, the
    output column list is the first-appearance union of the sides'
    columns (DuckDB's ordering), and each side projects ``col`` or
    ``CAST(NULL AS <type>) AS col`` for names it lacks (DuckDB fills
    missing with NULL).  A trailing ORDER BY / LIMIT on the last side
    binds to the whole union, as in DuckDB.  Returns (sql, used)."""
    cuts = _depth0_matches(sql, _UNION_BY_NAME_RE)
    if not cuts:
        return sql, False
    cte_prefix = ""
    if sql.lstrip().upper().startswith("WITH"):
        # r13 (closes the r12 loud-unsupported): a WITH prefix over a
        # BY NAME union — replicate the CTE list into EACH side so the
        # sides analyze standalone (non-recursive CTEs recompute per
        # side; semantics unchanged, the CTE is a pure subquery).
        end = _cte_prefix_end(sql, _scan_states(sql))
        if end is None:
            raise ValueError(
                "UNION BY NAME under an unparseable WITH prefix: "
                "move the BY NAME union inside a CTE body"
            )
        cte_prefix = sql[:end].rstrip() + " "
        sql = sql[end:]
        cuts = _depth0_matches(sql, _UNION_BY_NAME_RE)
        if not cuts:
            return cte_prefix + sql, False
    distinct = any(not m.group(1) for m in cuts)
    # split sides
    sides = []
    last = 0
    for m in cuts:
        sides.append(sql[last : m.start()])
        last = m.end()
    sides.append(sql[last:])
    # the whole-union tail rides on the last side at depth 0
    tail = ""
    last_side = sides[-1]
    tail_at = _depth0_matches(last_side, _UNION_TAIL_RE)
    if tail_at:
        i = tail_at[0].start()
        tail = " " + last_side[i:].strip()
        sides[-1] = last_side[:i]
    views = []
    cols: list[tuple[str, str]] = []  # (name, spark type) first-seen
    for k, side in enumerate(sides):
        body = cte_prefix + side.strip().strip(";")
        df = spark.sql(rewrite_statement(body).sql)
        name = f"__ubn_{abs(hash(cte_prefix + sql)) % 10**8}_{k}"
        df.createOrReplaceTempView(name)
        views.append((name, {f.name: f for f in df.schema.fields}))
        for f in df.schema.fields:
            if all(n != f.name for n, _ in cols):
                cols.append((f.name, f.dataType.simpleString()))
    selects = []
    for name, fields in views:
        proj = ", ".join(
            f"`{c}`" if c in fields else f"CAST(NULL AS {t}) AS `{c}`"
            for c, t in cols
        )
        selects.append(f"SELECT {proj} FROM {name}")
    op = " UNION " if distinct else " UNION ALL "
    return op.join(selects) + tail, True


def _run_summarize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Emulate DuckDB ``SUMMARIZE`` of ``df`` with a single distributed
    aggregate pass, reshaped to one output row per column on the
    driver."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__total")]
    numeric_prefixes = (
        "double", "float", "int", "bigint", "smallint", "tinyint", "decimal",
    )
    cols = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    for i, (name, typ) in enumerate(cols):
        c = F.col(name)
        aggs.append(F.min(c).cast("string").alias(f"min_{i}"))
        aggs.append(F.max(c).cast("string").alias(f"max_{i}"))
        aggs.append(F.approx_count_distinct(c).alias(f"uniq_{i}"))
        aggs.append(F.count(c).alias(f"cnt_{i}"))
        if typ.startswith(numeric_prefixes):
            aggs.append(F.avg(c.cast("double")).alias(f"avg_{i}"))
            aggs.append(F.stddev(c.cast("double")).alias(f"std_{i}"))
            aggs.append(
                F.percentile_approx(
                    c.cast("double"), [0.25, 0.5, 0.75]
                ).alias(f"q_{i}")
            )
    row = df.agg(*aggs).collect()[0].asDict()
    total = row["__total"] or 0

    # DuckDB-style type spelling for the column_type column (r11
    # shape-parity audit: names/order already matched; DuckDB prints
    # 'BIGINT', 'VARCHAR', 'BIGINT[]' where simpleString says
    # 'bigint', 'string', 'array<bigint>')
    def _duck_type(t: str) -> str:
        t = t.strip()
        if t.startswith("array<") and t.endswith(">"):
            return _duck_type(t[6:-1]) + "[]"
        base = {
            "string": "VARCHAR",
            "int": "INTEGER",
            "long": "BIGINT",
            "short": "SMALLINT",
            "byte": "TINYINT",
            "binary": "BLOB",
        }.get(t)
        return base if base else t.upper()

    out = []
    for i, (name, typ) in enumerate(cols):
        cnt = row[f"cnt_{i}"] or 0
        q = row.get(f"q_{i}") or [None, None, None]
        # DuckDB prints avg/std/quantiles as VARCHAR; integer-family
        # quantiles print without a decimal point
        is_int = typ.startswith(("int", "bigint", "smallint", "tinyint"))

        def _s(v, as_int=False):
            if v is None:
                return None
            if as_int and float(v) == int(float(v)):
                return str(int(float(v)))
            return str(float(v))

        out.append(
            (
                name,
                _duck_type(typ),
                row[f"min_{i}"],
                row[f"max_{i}"],
                int(row[f"uniq_{i}"] or 0),
                _s(row.get(f"avg_{i}")),
                _s(row.get(f"std_{i}")),
                _s(q[0], is_int),
                _s(q[1], is_int),
                _s(q[2], is_int),
                int(total),
                round(100.0 * (total - cnt) / total, 2) if total else 0.0,
            )
        )
    schema = (
        "column_name string, column_type string, min string, max string, "
        "approx_unique bigint, avg string, std string, q25 string, "
        "q50 string, q75 string, count bigint, null_percentage double"
    )
    return spark.createDataFrame(out, schema=schema)


# ---------------------------------------------------------------------------
# Variable state
# ---------------------------------------------------------------------------

class _VarState:
    """Session variables: raw SQL literal expressions keyed by name.

    ``raw`` values are spliced verbatim for getvariable() references;
    ``lists`` become array(...) literals (reference:
    server/core/app.go:574-595)."""

    def __init__(self, protected: dict[str, Any] | None = None):
        self.raw: dict[str, str] = {}
        self.lists: dict[str, list[str]] = {}
        self.protected: set[str] = set(protected or {})
        for k, v in (protected or {}).items():
            if isinstance(v, str):
                self.raw[k] = "'" + sqltool.escape_sql_string(v) + "'"
            elif isinstance(v, (list, tuple)):
                self.lists[k] = [str(x) for x in v]

    def defined(self) -> set[str]:
        return set(self.raw) | set(self.lists)

    def copy(self) -> "_VarState":
        out = _VarState()
        out.raw = dict(self.raw)
        out.lists = {k: list(v) for k, v in self.lists.items()}
        out.protected = set(self.protected)
        return out

    def substitute(self, sql: str) -> str:
        def repl(m: re.Match[str]) -> str:
            name = m.group(1)
            if name in self.lists:
                items = ", ".join(
                    "'" + sqltool.escape_sql_string(v) + "'" for v in self.lists[name]
                )
                return f"array({items})"
            if name in self.raw:
                return f"({self.raw[name]})"
            return "NULL"

        return _GETVAR_RE.sub(repl, sql)


# ---------------------------------------------------------------------------
# Mark lines
# ---------------------------------------------------------------------------

def _get_mark_lines(
    columns: list[Column], rows: list[list[Any]]
) -> tuple[list[MarkLine], bool]:
    axis = ""
    value_index = -1
    i = find_column_by_tag(columns, "XLINE")
    if i != -1:
        axis, value_index = "x", i
    else:
        i = find_column_by_tag(columns, "YLINE")
        if i != -1:
            axis, value_index = "y", i
    if not axis:
        return [], False
    label_index = find_column_by_tag(columns, "LABEL")
    lines: list[MarkLine] = []
    for row in rows:
        if value_index >= len(row):
            continue
        v = row[value_index]
        if v is None:
            continue
        from decimal import Decimal

        line = MarkLine(is_yaxis=(axis == "y"))
        if isinstance(v, Decimal):
            v = float(v)
        if isinstance(v, str):
            line.value = v
        elif isinstance(v, bool):
            continue
        elif isinstance(v, (int, float)):
            import math

            if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
                continue
            line.value = v
        elif isinstance(v, dt.datetime):
            from .normalize import _unix_ms

            line.value = _unix_ms(v)
        elif isinstance(v, dt.date):
            from .normalize import _unix_ms

            line.value = _unix_ms(dt.datetime(v.year, v.month, v.day))
        elif isinstance(v, dt.timedelta):
            line.value = interval_to_ms(v)
        else:
            continue
        if label_index != -1 and label_index < len(row):
            lv = row[label_index]
            if isinstance(lv, str):
                line.label = lv
        lines.append(line)
    return lines, True


def _get_schedule_time(rows: list[list[Any]]) -> int:
    """RELOAD/SCHEDULE value → epoch ms; interval → now+Δ; 'init' → -1
    (reference getScheduleTime, get_dashboard.go:2120-2148)."""
    if not rows or not rows[0]:
        return 0
    val = rows[0][0]
    if val is None:
        return 0
    if isinstance(val, dt.timedelta):
        return int(time.time() * 1000) + interval_to_ms(val)
    if isinstance(val, dt.datetime):
        from .normalize import _unix_ms

        return _unix_ms(val)
    if isinstance(val, str) and val.lower() == "init":
        return -1
    return 0


def _get_single_value(rows: list[list[Any]]) -> str:
    if rows and rows[0] and isinstance(rows[0][0], str):
        return rows[0][0]
    return ""


# ---------------------------------------------------------------------------
# Widget variable collection
# ---------------------------------------------------------------------------

def _collect_vars(
    vars_: _VarState,
    render_type: str,
    params: dict[str, Any],
    columns: list[Column],
    rows: list[list[Any]],
) -> None:
    """Port of collectVars (get_dashboard.go:1511-1791): widget results
    become variables for later statements; URL params override defaults;
    protected (JWT) variables are never overridden."""

    def get_param(name: str) -> str:
        v = params.get(name)
        if isinstance(v, list):
            return v[0] if v else ""
        return v or ""

    if render_type == "dropdown":
        idx = next((i for i, c in enumerate(columns) if c.tag == "value"), -1)
        if idx == -1:
            raise DashboardError("missing value column for dropdown")
        name = columns[idx].name
        if name in vars_.protected:
            return
        param = get_param(name)
        if param:
            if not any(row[idx] == param for row in rows):
                param = ""
        if not param:
            if not rows:
                return
            v = rows[0][idx]
            param = v if isinstance(v, str) else ""
        vars_.raw[name] = "'" + sqltool.escape_sql_string(param) + "'"

    elif render_type == "dropdownMulti":
        idx = next((i for i, c in enumerate(columns) if c.tag == "value"), -1)
        if idx == -1:
            raise DashboardError("missing value column for dropdownMulti")
        name = columns[idx].name
        if name in vars_.protected:
            return
        provided = name in params
        raw = params.get(name, [])
        plist = list(raw) if isinstance(raw, list) else [raw]
        if plist:
            valid = {row[idx] for row in rows if isinstance(row[idx], str)}
            plist = [p for p in plist if p in valid]
        if not plist and not provided:
            plist = [
                row[idx] if isinstance(row[idx], str) else "" for row in rows
            ]
        vars_.lists[name] = plist

    elif render_type == "datepicker":
        if not rows:
            return
        idx = next((i for i, c in enumerate(columns) if c.tag == "default"), -1)
        if idx == -1:
            raise DashboardError("missing datepicker column")
        name = columns[idx].name
        if name in vars_.protected:
            return
        param = get_param(name)
        if not param:
            v = rows[0][idx]
            if isinstance(v, (dt.date, dt.datetime)):
                param = v.strftime("%Y-%m-%d")
        elif not _DATE_RE.match(param):
            raise DashboardError(f"invalid date for datepicker param {name!r}: {param}")
        if param:
            vars_.raw[name] = "DATE '" + sqltool.escape_sql_string(param) + "'"

    elif render_type == "daterangePicker":
        if not rows:
            return
        from_idx = next(
            (i for i, c in enumerate(columns) if c.tag == "defaultFrom"), -1
        )
        to_idx = next(
            (i for i, c in enumerate(columns) if c.tag == "defaultTo"), -1
        )
        if from_idx == -1:
            raise DashboardError("missing DATEPICKER_FROM column")
        if to_idx == -1:
            raise DashboardError("missing DATEPICKER_TO column")
        from_name, to_name = columns[from_idx].name, columns[to_idx].name
        if from_name in vars_.protected or to_name in vars_.protected:
            return
        p = get_param(from_name)
        if not p:
            v = rows[0][from_idx]
            if isinstance(v, (dt.date, dt.datetime)):
                p = v.strftime("%Y-%m-%d")
        elif not _DATE_RE.match(p):
            raise DashboardError(f"invalid date for param {from_name!r}: {p}")
        if p:
            vars_.raw[from_name] = "TIMESTAMP '" + sqltool.escape_sql_string(p) + "'"
        p = get_param(to_name)
        if not p:
            v = rows[0][to_idx]
            if isinstance(v, (dt.date, dt.datetime)):
                p = v.strftime("%Y-%m-%d")
        elif not _DATE_RE.match(p):
            raise DashboardError(f"invalid date for param {to_name!r}: {p}")
        if p:
            vars_.raw[to_name] = (
                "TIMESTAMP '" + sqltool.escape_sql_string(p) + " 23:59:59.999999'"
            )

    elif render_type == "input":
        idx = next((i for i, c in enumerate(columns) if c.tag == "hint"), -1)
        if idx == -1:
            raise DashboardError("missing hint column for input")
        name = columns[idx].name
        if name in vars_.protected:
            return
        param = get_param(name)
        if param:
            vars_.raw[name] = "'" + sqltool.escape_sql_string(param) + "'"


# ---------------------------------------------------------------------------
# Main executor
# ---------------------------------------------------------------------------

_HEADER_RENDER_TYPES = frozenset(
    {"dropdown", "dropdownMulti", "button", "datepicker", "daterangePicker", "input"}
)

# Leading keywords of plain queries (SUMMARIZE and PIVOT are not, and no
# row of _STATEMENT_KINDS matches one).
_PLAIN_QUERY_HEAD_RE = re.compile(
    r"\(*\s*(SELECT|WITH|FROM|VALUES)\b", re.IGNORECASE
)
# Casts that can define a variable (widgets), mark the next statement as
# a download target or hide the statements after them (an empty section
# title). Matched as bare words anywhere in the text, so both
# ``::DROPDOWN`` and ``CAST(x AS DROPDOWN)`` count.
_DEFINING_CAST_RE = re.compile(
    r"\b(?:DROPDOWN(?:_MULTI)?|DATEPICKER(?:_FROM|_TO)?|INPUT|DOWNLOAD_\w+"
    r"|SECTION)\b",
    re.IGNORECASE,
)
# nextval/currval deal sequence values per evaluation, so their order is
# the script order: such statements never run ahead.
_SEQUENCE_CALL_RE = re.compile(r"\b(?:nextval|currval)\s*\(", re.IGNORECASE)


@dataclass(frozen=True)
class _Statement:
    """Text-only classification of one dashboard statement, made once and
    shared by the render loop and the prefetch walk."""

    index: int  # position in the script (download links name it)
    sql: str
    allowed: bool
    side_effect: bool
    refs: tuple[str, ...]  # getvariable() names
    sets_var: str | None  # SET VARIABLE target
    # runs through _prepare_query + _collect_query, so it may run ahead
    prefetchable: bool
    # may define a variable, mark a download or hide a section: nothing
    # after it runs ahead until it is assembled or predicted
    stops_walk: bool


def _classify(index: int, sql: str) -> _Statement:
    allowed = sqltool.is_allowed_statement(sql)
    kind = _statement_kind(sql)
    m = _SET_VARIABLE_RE.match(sql)
    return _Statement(
        index=index,
        sql=sql,
        allowed=allowed,
        side_effect=kind is not None and kind.side_effect,
        refs=tuple(find_variable_refs(sql)),
        sets_var=(m.group(1) or m.group(2)) if m else None,
        prefetchable=(
            allowed
            and kind is None
            and _PLAIN_QUERY_HEAD_RE.match(sql) is not None
            and _SEQUENCE_CALL_RE.search(sql) is None
        ),
        stops_walk=_DEFINING_CAST_RE.search(sql) is not None,
    )


class _CollectPool:
    """Process-wide executor that runs prefetched statements' collects.

    Created on first use and sized from the cluster's default
    parallelism, so session setup pays nothing for it. ``in_flight``
    counts collects running on it (a /metrics gauge)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._executor: ThreadPoolExecutor | None = None
        self.in_flight = 0

    def submit(self, spark: SparkSession, fn, *args) -> Future:
        with self._lock:
            if self._executor is None:
                self._executor = ThreadPoolExecutor(
                    max_workers=max(2, spark.sparkContext.defaultParallelism),
                    thread_name_prefix="shaper-collect",
                )
        return self._executor.submit(self._run, fn, *args)

    def _run(self, fn, *args):
        with self._lock:
            self.in_flight += 1
        try:
            return fn(*args)
        finally:
            with self._lock:
                self.in_flight -= 1


_COLLECT_POOL = _CollectPool()


def statements_in_flight() -> int:
    """Prefetched statements collecting on the shared pool right now."""
    return _COLLECT_POOL.in_flight


@dataclass(frozen=True)
class _Launched:
    snapshot: str  # the statement's variable-substituted text at launch
    future: Future  # -> (columns, rows)
    prepared: tuple[DataFrame, dict[int, str]] | None  # if prepare passed
    generation: int  # plan-cache generation read before the prepare
    predicted: bool  # launched with predicted widget variables


def _generation() -> int:
    from .plancache import generation

    return generation()


def _prefetch(
    spark: SparkSession,
    sql_string: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
    max_rows: int,
    predicted: bool = False,
) -> _Launched:
    """Prepare on the calling thread, collect on the shared pool. A
    prepare error is stored in the future, so it surfaces only when
    assembly reaches the statement (and never for a skipped one)."""
    snapshot = vars_.substitute(sql_string)
    generation = _generation()
    if predicted:
        _WIDGET_RESULTS.count(predictions=1)
    try:
        prepared = _prepare_query(spark, sql_string, vars_, macros)
    except Exception as e:
        failed: Future = Future()
        failed.set_exception(e)
        return _Launched(snapshot, failed, None, generation, predicted)
    future = _COLLECT_POOL.submit(spark, _collect_query, *prepared, max_rows)
    return _Launched(snapshot, future, prepared, generation, predicted)


# Render types whose result defines variables in _collect_vars (download
# buttons render as "button", so they are never remembered).
_WIDGET_RENDER_TYPES = frozenset(
    {"dropdown", "dropdownMulti", "datepicker", "daterangePicker", "input"}
)


class _WidgetResults:
    """The last result of each widget statement and section title, so
    the prefetch walk can predict the variables a widget defines, and
    whether a title shows the statements after it, instead of stopping.

    Entries are keyed by (session, variable-substituted statement text),
    hold the session object as the plan cache does, and are stamped
    with the plan-cache generation read before the statement ran. A
    prediction is ``_collect_vars`` run over an entry of the current
    generation, so a widget value reaches a launched statement only
    after the widget's own validation accepted it against rows that
    exactly this text returned under the same data. Nothing is served
    from here: every statement still executes, and assembly keeps a
    launched result only if its text equals the one the real widget
    result gives."""

    _CAPACITY = 256

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple[int, str], tuple] = OrderedDict()
        self.predictions = 0  # launches made with predicted variables
        self.mispredictions = 0  # of those, dropped by the snapshot check

    def remember(
        self,
        spark: SparkSession,
        text: str,
        generation: int,
        render_type: str,
        columns: list[Column],
        rows: list[list[Any]],
    ) -> None:
        # copies: assembly normalizes the rows in place afterwards
        entry = (
            spark,
            generation,
            render_type,
            [copy.copy(c) for c in columns],
            [list(r) for r in rows],
        )
        key = (id(spark), text)
        with self._lock:
            self._entries[key] = entry
            self._entries.move_to_end(key)
            while len(self._entries) > self._CAPACITY:
                self._entries.popitem(last=False)

    def predict(
        self,
        spark: SparkSession,
        text: str,
        vars_: _VarState,
        params: dict[str, Any],
    ) -> _VarState | None:
        """``vars_`` plus what the widget with substituted ``text``
        would define, or None when there is no current entry or
        ``_collect_vars`` rejects this request's params. A section
        title predicts ``vars_`` itself if its entry had a row."""
        key = (id(spark), text)
        with self._lock:
            entry = self._entries.get(key)
            if entry is None or entry[0] is not spark:
                return None
            self._entries.move_to_end(key)
        _, generation, render_type, columns, rows = entry
        if generation != _generation():
            return None
        if render_type == "section":
            return vars_ if rows else None
        predicted = vars_.copy()
        try:
            _collect_vars(predicted, render_type, params, columns, rows)
        except Exception:
            return None
        return predicted

    def count(self, predictions: int = 0, mispredictions: int = 0) -> None:
        with self._lock:
            self.predictions += predictions
            self.mispredictions += mispredictions

    def stats(self) -> dict[str, int]:
        with self._lock:
            return {
                "predictions": self.predictions,
                "mispredictions": self.mispredictions,
            }


_WIDGET_RESULTS = _WidgetResults()


def prediction_stats() -> dict[str, int]:
    """Launches made with predicted widget variables, and how many of
    them assembly dropped because the real variables differed."""
    return _WIDGET_RESULTS.stats()


def query_dashboard(
    spark: SparkSession,
    content: str,
    params: dict[str, Any] | None = None,
    variables: dict[str, Any] | None = None,
    dashboard_id: str = "",
    max_rows: int = QUERY_MAX_ROWS,
) -> GetResult:
    """Execute a ``;``-separated dashboard script and build the render tree."""
    statements = sqltool.split_sql_queries(sqltool.strip_sql_comments(content))
    with _rendering(
        spark, statements, params, variables, dashboard_id, max_rows
    ) as walk:
        return walk.result


@dataclass
class _Walk:
    """What one render walk over a script leaves for its caller: the
    render tree, the variables and macros after the last statement, and
    the dashboards its PDF download links point at."""

    vars: _VarState
    result: GetResult = field(default_factory=GetResult)
    macros: dict[str, _Macro] = field(default_factory=dict)
    pdf_targets: list[str] = field(default_factory=list)
    # Temp views a dashboard creates are session-scoped and would leak
    # into later renders on the shared session (the reference gets
    # isolation from per-connection/per-request DuckDB instances,
    # app.go:238-334); dropping them afterwards restores that contract.
    created_views: list[str] = field(default_factory=list)
    # statements launched ahead, by position among the non-empty ones
    launched: dict[int, _Launched] = field(default_factory=dict)


@contextmanager
def _rendering(
    spark: SparkSession,
    statements: list[str],
    params: dict[str, Any] | None,
    variables: dict[str, Any] | None,
    dashboard_id: str,
    max_rows: int,
) -> Iterator[_Walk]:
    """Walk ``statements`` as a render does and yield the walk. The temp
    views it created stay until the block exits, so a caller can still
    prepare a statement that reads them (an export target)."""
    walk = _Walk(_VarState(variables))
    try:
        _query_dashboard_loop(
            spark, statements, params or {}, dashboard_id, max_rows, walk
        )
        yield walk
    finally:
        # Unstarted collects are dropped; running ones read this render's
        # temp views, so they finish before the views go.
        for ahead in walk.launched.values():
            ahead.future.cancel()
        wait([ahead.future for ahead in walk.launched.values()])
        for view in walk.created_views:
            try:
                spark.catalog.dropTempView(view)
            except Exception:
                pass


def _query_dashboard_loop(
    spark: SparkSession,
    statements: list[str],
    params: dict[str, Any],
    dashboard_id: str,
    max_rows: int,
    walk: _Walk,
) -> None:
    result, vars_, macros = walk.result, walk.vars, walk.macros
    created_views, launched = walk.created_views, walk.launched
    defined_vars = vars_.defined()
    unset_vars: list[str] = []
    unset_seen: set[str] = set()
    download_link_params: dict[str, Any] = {}
    min_ms_all: int | None = None
    max_ms_all: int | None = None
    next_label = ""
    hide_next_content_section = False
    next_is_download = False
    next_mark_lines: list[MarkLine] = []
    header_image = ""
    footer_link = ""

    stmts = [
        _classify(i, s.strip()) for i, s in enumerate(statements) if s.strip()
    ]
    frontier = 0  # first statement position not yet considered for launch
    # the variables the walk launches with: vars_ itself, or a copy that
    # adds predicted values of widgets assembly has not reached yet
    walk_vars = vars_

    def launch_ahead(pos: int) -> None:
        """When stmts[pos] is about to run, prepare (here, in script
        order) and submit every statement from the frontier on that
        cannot be affected by what assembly still has to do. The walk
        passes a widget only with a prediction of what it defines, and a
        section title only if its last result showed the section."""
        nonlocal frontier, walk_vars
        if frontier <= pos:  # assembly caught up: nothing is predicted
            frontier, walk_vars = pos, vars_
        # A macro body can hide a widget or section cast. In a hidden
        # section the statements that pass the can_start_section text
        # test include plain ones, which do not end it.
        if macros or hide_next_content_section:
            return
        while frontier < len(stmts):
            if frontier > pos and stmts[frontier - 1].stops_walk:
                stop = stmts[frontier - 1].sql
                predicted = _WIDGET_RESULTS.predict(
                    spark, walk_vars.substitute(stop), walk_vars, params
                )
                if predicted is None:
                    return
                walk_vars = predicted
            st = stmts[frontier]
            if not st.prefetchable or not walk_vars.defined().issuperset(
                st.refs
            ):
                return
            launched[frontier] = _prefetch(
                spark, st.sql, walk_vars, macros, max_rows,
                predicted=walk_vars is not vars_,
            )
            frontier += 1

    for pos, st in enumerate(stmts):
        query_index, sql_string = st.index, st.sql

        for var_name in st.refs:
            if var_name not in defined_vars and var_name not in unset_seen:
                unset_seen.add(var_name)
                unset_vars.append(var_name)
        if st.sets_var:
            defined_vars.add(st.sets_var)

        if not st.allowed:
            raise DashboardError(
                f"Disallowed SQL statement in query {query_index + 1}"
            )
        if next_is_download:
            next_is_download = False
            continue
        if st.side_effect:
            vm = _TEMP_VIEW_NAME_RE.match(sql_string)
            if vm:
                created_views.append(vm.group(1).strip('"`'))
            _run_query(spark, sql_string, vars_, macros, max_rows)
            continue
        if hide_next_content_section and not can_start_section(sql_string):
            continue

        launch_ahead(pos)
        # A launched statement stands only if the variables it was
        # prepared with are still the current ones; one the pool has
        # not started is collected here instead of waiting for a worker.
        ahead = launched.get(pos)
        if ahead is not None and (
            ahead.snapshot != vars_.substitute(sql_string)
        ):
            ahead.future.cancel()
            if ahead.predicted:
                _WIDGET_RESULTS.count(mispredictions=1)
            ahead = None
        if ahead is None:
            generation = _generation()
            columns, rows = _run_query(
                spark, sql_string, vars_, macros, max_rows
            )
        else:
            generation = ahead.generation
            if ahead.future.cancel():
                columns, rows = _collect_query(*ahead.prepared, max_rows)
            else:
                columns, rows = ahead.future.result()

        query = Query(rows=rows)

        if is_label(columns, rows):
            v = rows[0][0]
            next_label = v if isinstance(v, str) else ""
            continue

        if is_section_title(columns, rows):
            _WIDGET_RESULTS.remember(
                spark, vars_.substitute(sql_string), generation,
                "section", columns, rows,
            )
            if (
                not result.sections
                or result.sections[-1].type != "header"
                or result.sections[-1].title is not None
            ):
                result.sections.append(Section(type="header"))
            hide_next_content_section = False
            last = result.sections[-1]
            if not rows:
                hide_next_content_section = True
                continue
            v = rows[0][0]
            last.title = v if isinstance(v, str) and v else None
            continue

        if is_reload(columns, rows):
            if result.reload_at != 0:
                raise DashboardError(
                    f"Multiple RELOAD queries in dashboard {dashboard_id}"
                )
            result.reload_at = _get_schedule_time(rows)
            continue

        if is_header_image(columns, rows):
            header_image = _get_single_value(rows)
            continue
        if is_footer_link(columns, rows):
            footer_link = _get_single_value(rows)
            continue

        lines, ok = _get_mark_lines(columns, rows)
        if ok:
            next_mark_lines.extend(lines)
            continue

        rinfo = get_render_info(columns, rows, next_label, next_mark_lines)
        query.render = _render_to_dict(rinfo)
        if rinfo.download in ("csv", "xlsx", "json"):
            next_is_download = True

        for ci, col in enumerate(columns):
            col.tag = map_tag(ci, rinfo)
            col.type = map_wire_type(col, rows, ci)
        query.columns = columns

        pdf_target = _build_download_links(
            query, rinfo, dashboard_id, query_index, params, download_link_params
        )
        if pdf_target is not None:
            walk.pdf_targets.append(pdf_target)

        if rinfo.type in _WIDGET_RENDER_TYPES:
            _WIDGET_RESULTS.remember(
                spark, vars_.substitute(sql_string), generation,
                rinfo.type, columns, rows,
            )
        _collect_vars(vars_, rinfo.type, params, columns, rows)
        defined_vars |= vars_.defined()
        _collect_download_link_params(
            download_link_params, rinfo.type, params, columns, rows
        )

        mn, mx = normalize_rows(columns, rows)
        if mn is not None and (min_ms_all is None or mn < min_ms_all):
            min_ms_all = mn
        if mx is not None and (max_ms_all is None or mx > max_ms_all):
            max_ms_all = mx

        wanted = "header" if rinfo.type in _HEADER_RENDER_TYPES else "content"
        if result.sections and result.sections[-1].type == wanted:
            result.sections[-1].queries.append(query)
        else:
            if not hide_next_content_section or wanted != "content":
                result.sections.append(Section(type=wanted, queries=[query]))
            if wanted == "header":
                hide_next_content_section = False

        next_label = ""
        next_mark_lines = []

    if result.sections and result.sections[0].title:
        result.name = result.sections[0].title
    result.min_time_value = min_ms_all
    result.max_time_value = max_ms_all
    result.header_image = header_image or None
    result.footer_link = footer_link or None
    result.unset_variables = unset_vars


def _render_to_dict(r: RenderInfo) -> dict[str, Any]:
    d: dict[str, Any] = {"type": r.type}
    if r.label is not None:
        d["label"] = r.label
    if r.gauge_categories:
        d["gaugeCategories"] = [g.to_dict() for g in r.gauge_categories]
    if r.mark_lines:
        d["markLines"] = [m.to_dict() for m in r.mark_lines]
    return d


_ASOF_GUARD_DEFAULT_LIMIT = 10_000
# (plan-cache generation, limit, statement text) → guard passed; the
# underlying data only changes via paths that bump() the plan cache, so
# a passed probe stays valid within a generation.
_asof_guard_ok: dict[tuple[int, int, str], bool] = {}


def _asof_quadratic_guard(spark: SparkSession, rw, vars_: "_VarState") -> None:
    """Refuse the quadratic ASOF-compatibility plan on large inputs.

    The ``ASOF JOIN`` SQL rewrite (rewrite._rewrite_asof_join) is a
    compatibility path: Catalyst decorrelates the LATERAL top-1
    subquery through a BroadcastNestedLoopJoin — O(left × right) pairs,
    measured 125 s at 60 k × 60 k rows where DuckDB's native ASOF takes
    34 ms (the reference runs DuckDB, so it has no such trap).  When
    only ONE side is big the nested loop stays linear-ish (≤ limit ×
    big pairs with the small side broadcast), so the guard probes BOTH
    join inputs with a bounded count (``LIMIT limit+1`` subquery — two
    tiny jobs; CTE names resolve through the statement's own WITH
    prologue) and errors only when both exceed the limit, pointing at
    the linear operator ``shaper_spark/operators/asof.py`` (union + one
    window shuffle) instead of silently running for minutes.  Tune or
    disable with ``SET VARIABLE asof_guard_limit = N`` (0 disables).
    """
    limit = _ASOF_GUARD_DEFAULT_LIMIT
    raw = vars_.raw.get("asof_guard_limit")
    if raw is not None:
        try:
            limit = int(float(raw.strip().strip("'")))
        except (TypeError, ValueError):
            pass
    if limit <= 0:
        return
    from .plancache import generation
    from .rewrite import with_prologue

    key = (generation(), limit, rw.sql)
    if _asof_guard_ok.get(key):
        return
    prologue = with_prologue(rw.sql)
    for left_name, right_name in rw.asof_joins:
        counts = []
        for name in (left_name, right_name):
            probe = (
                f"{prologue} SELECT count(*) AS c FROM "
                f"(SELECT * FROM {name} LIMIT {limit + 1}) __asof_probe"
            )
            try:
                counts.append(spark.sql(probe).collect()[0][0])
            except Exception:
                # not probe-able in isolation (e.g. a subquery alias) —
                # fail open; the statement itself still runs
                counts.append(0)
        if counts[0] > limit and counts[1] > limit:
            raise DashboardError(
                f"ASOF JOIN inputs '{left_name}' and '{right_name}' both exceed "
                f"{limit:,} rows; the SQL compatibility rewrite would run an "
                f"O(left × right) nested-loop plan at this size. Use the linear "
                f"as-of operator instead (shaper_spark/operators/asof.py: "
                f"asof_join — union + one window shuffle), or adjust the guard "
                f"with SET VARIABLE asof_guard_limit = N (0 disables)."
            )
    if len(_asof_guard_ok) > 512:
        _asof_guard_ok.clear()
    _asof_guard_ok[key] = True


_TEMP_VIEW_NAME_RE = re.compile(
    r"CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+(?:VIEW|TABLE)\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w]*|\"[^\"]+\"|`[^`]+`)",
    re.IGNORECASE,
)

# ---------------------------------------------------------------------------
# Statement kinds. Every handler takes (spark, sql, vars_, macros,
# max_rows) and returns (columns, rows); side effects return ([], []).
# A handler that declines a statement runs the plain query path itself.
# ---------------------------------------------------------------------------


def _run_plain(
    spark: SparkSession,
    sql: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
    max_rows: int,
) -> tuple[list[Column], list[list[Any]]]:
    return _collect_query(*_prepare_query(spark, sql, vars_, macros), max_rows)


def _run_command(spark, sql, vars_, macros, max_rows):
    """USE / CALL / CREATE TEMP VIEW / CREATE TEMP TABLE. Spark has no
    temp tables — a temp view gives the same statement-scoped namespace
    (lazily recomputed; CACHE TABLE would materialize it if a dashboard
    needs it hot). _prepare_query runs the command and flushes memoized
    analyzed plans."""
    _prepare_query(
        spark,
        _CREATE_TEMP_TABLE_RE.sub("CREATE OR REPLACE TEMPORARY VIEW ", sql),
        vars_,
        macros,
    )
    return [], []


def _set_variable(spark, sql, vars_, macros, max_rows):
    m = _SET_VARIABLE_RE.match(sql)
    if not m:
        return _run_command(spark, sql, vars_, macros, max_rows)
    name = m.group(1) or m.group(2)
    df, _ = _prepare_query(spark, "SELECT " + m.group(3).strip(), vars_, macros)
    rows = df.limit(1).collect()
    value = rows[0][0] if rows else None
    if isinstance(value, list):
        vars_.lists[name] = [str(v) for v in value]
        vars_.raw.pop(name, None)
    elif isinstance(value, str):
        vars_.raw[name] = "'" + sqltool.escape_sql_string(value) + "'"
        vars_.lists.pop(name, None)
    elif isinstance(value, bool):
        vars_.raw[name] = "TRUE" if value else "FALSE"
    elif isinstance(value, (int, float)):
        vars_.raw[name] = repr(value)
        vars_.lists.pop(name, None)
    elif isinstance(value, dt.datetime):
        vars_.raw[name] = "TIMESTAMP '" + value.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    elif isinstance(value, dt.date):
        vars_.raw[name] = "DATE '" + value.strftime("%Y-%m-%d") + "'"
    elif value is None:
        vars_.raw[name] = "NULL"
    return [], []


def _reset_variable(spark, sql, vars_, macros, max_rows):
    m = _RESET_VARIABLE_RE.match(sql)
    if not m:
        return _run_command(spark, sql, vars_, macros, max_rows)
    name = m.group(1) or m.group(2)
    vars_.raw.pop(name, None)
    vars_.lists.pop(name, None)
    return [], []


def _create_macro(spark, sql, vars_, macros, max_rows):
    macro = _parse_macro(sql)
    if macro is None:
        return _run_command(spark, sql, vars_, macros, max_rows)
    macros[macro.name] = macro
    return [], []


def _run_secret(spark, sql, vars_, macros, max_rows):
    from .secrets import try_execute_secret

    if try_execute_secret(spark, vars_.substitute(sql)):
        return [], []
    return _run_command(spark, sql, vars_, macros, max_rows)


def _no_op(spark, sql, vars_, macros, max_rows):
    """BEGIN / COMMIT / ROLLBACK / ABORT: no transactions on Spark,
    per-statement atomicity only. CHECKPOINT: DuckDB flushes the WAL
    into the single database file (reference restore.go:229 issues it
    after IMPORT); a Spark warehouse has no WAL — storage hygiene is
    COMPACT TABLE — so it succeeds as a no-op for script parity."""
    return [], []


def _run_attach(spark, sql, vars_, macros, max_rows):
    """Tasks run ATTACH/DETACH as ordinary statements with empty results
    (reference run_task.go:51 marks them no-tx and executes them
    directly)."""
    from .attach import try_execute_attach

    if not try_execute_attach(spark, vars_.substitute(sql)):
        raise ValueError(f"Unsupported ATTACH/DETACH syntax: {sql!r}")
    return [], []


def _run_type_ddl(spark, sql, vars_, macros, max_rows):
    """DuckDB user types: ENUMs are emulated via the warehouse registry
    (enums.py; reference duckdb_schema.go:124-161); task scripts create
    them, dashboards only consume them."""
    if not try_execute_type_ddl(spark, vars_.substitute(sql)):
        raise ValueError(f"Unsupported type DDL: {sql!r}")
    return [], []


def _run_sequence_ddl(spark, sql, vars_, macros, max_rows):
    """DuckDB sequences: warehouse-registry emulation (sequences.py);
    task scripts create them, nextval/currval deal from the registry
    under a file lock."""
    if not try_execute_sequence_ddl(spark, vars_.substitute(sql)):
        raise ValueError(f"Unsupported sequence DDL: {sql!r}")
    return [], []


def _run_explain(spark, sql, vars_, macros, max_rows):
    """DuckDB's EXPLAIN shape: (explain_key, explain_value) — one row
    with the plan tree (Spark returns a single 'plan' column). The plan
    TEXT is engine-specific by nature."""
    m = re.match(r"\s*EXPLAIN\b\s*(ANALYZE\b\s*)?", sql, re.IGNORECASE)
    inner, _ = _prepare_query(spark, sql[m.end():].rstrip().rstrip(";"), vars_, macros)
    plan = inner._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    if m.group(1):
        # Execute like DuckDB's ANALYZE but never materialize the result
        # on the driver (a full collect() here was an unbounded
        # driver-side sink reachable from any dashboard). The noop sink
        # runs the whole plan executor-side and discards rows; count()
        # is the fallback (also executor-side, one long to the driver).
        try:
            inner.write.format("noop").mode("overwrite").save()
        except Exception:
            inner.count()
    key = "analyzed_plan" if m.group(1) else "physical_plan"
    return [
        Column(name="explain_key", nullable=False, spark_type="string"),
        Column(name="explain_value", nullable=False, spark_type="string"),
    ], [[key, plan]]


def _show_tables(spark, sql, vars_, macros, max_rows):
    """DuckDB's SHOW TABLES shape: one 'name' column, sorted (Spark's is
    namespace/tableName/isTemporary)."""
    names = sorted(r.tableName for r in spark.sql("SHOW TABLES").collect())
    return [Column(name="name", nullable=False, spark_type="string")], [
        [n] for n in names
    ]


def _describe(spark, sql, vars_, macros, max_rows):
    """DuckDB's DESCRIBE shape: (column_name, column_type, null, key,
    default, extra) with DuckDB type spellings — pasted dashboards key
    on those names (Spark's native DESC returns
    col_name/data_type/comment)."""
    from .udfs import _duckdb_typename

    body = re.sub(
        r"^\s*DESC(?:RIBE)?\s+", "", sql, flags=re.IGNORECASE
    ).rstrip().rstrip(";").strip()
    if _PLAIN_QUERY_HEAD_RE.match(body):
        schema = _prepare_query(spark, body, vars_, macros)[0].schema
    else:
        schema = spark.table(body).schema
    cols = [
        Column(name=n, nullable=True, spark_type="string")
        for n in ("column_name", "column_type", "null", "key", "default", "extra")
    ]
    rows = [
        [
            f.name,
            _duckdb_typename(f.dataType.simpleString()),
            "YES" if f.nullable else "NO",
            None,
            None,
            None,
        ]
        for f in schema.fields
    ]
    return cols, rows


def _compact_table(spark, sql, vars_, macros, max_rows):
    """Dialect extension (documented in MIGRATION.md): the small-files
    maintenance the reference never needs (single DuckDB file) but a
    parquet warehouse does. Task-scope only — the read-only dashboard
    gate does not allow it."""
    from .compaction import compact_table

    target = re.sub(
        r"^\s*COMPACT\s+TABLE\s+", "", vars_.substitute(sql), flags=re.IGNORECASE
    ).rstrip().rstrip(";").strip()
    # optional clustering clause: COMPACT TABLE t ORDER BY a, b
    sort_by = None
    m_order = re.search(r"\sORDER\s+BY\s+(.+)$", target, re.IGNORECASE)
    if m_order:
        sort_by = [c.strip() for c in m_order.group(1).split(",") if c.strip()]
        target = target[: m_order.start()].strip()
    report = compact_table(spark, target, sort_by=sort_by)
    names_types = [
        ("compacted", "boolean"),
        ("n_files_before", "bigint"),
        ("n_files_after", "bigint"),
        ("total_bytes", "bigint"),
        ("n_target_files", "bigint"),
    ]
    return [
        Column(name=n, nullable=False, spark_type=t) for n, t in names_types
    ], [
        [
            report["compacted"],
            report["n_files"],
            report["after"]["n_files"],
            report["total_bytes"],
            report["n_target_files"],
        ]
    ]


_COPY_RE = re.compile(
    r"^\s*COPY\s+(.*?)\s+TO\s+'((?:[^']|'')*)'\s*(?:\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+([\w.`\"]+)\s+FROM\s+'((?:[^']|'')*)'\s*"
    r"(?:\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_COPY_EXT_FMT = {"parquet": "parquet", "csv": "csv", "json": "json",
                 "jsonl": "json", "ndjson": "json"}


def _copy_count(n: int) -> tuple[list[Column], list[list[Any]]]:
    return [Column(name="Count", nullable=False, spark_type="bigint")], [[n]]


def _copy_options(
    path: str, opt_text: str | None
) -> tuple[str, dict[str, str], str | None]:
    """COPY's ``(FORMAT …, HEADER …, DELIMITER …, COMPRESSION …)`` list:
    the format (FORMAT, else the path's extension, else parquet), the
    csv header/separator as Spark reader and writer options, and the
    compression."""
    opts: dict[str, str] = {}
    for part in (opt_text or "").split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split(None, 1)
        opts[bits[0].lower()] = (
            bits[1].strip().strip("'\"") if len(bits) > 1 else "true"
        )
    ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
    fmt = opts.get("format", _COPY_EXT_FMT.get(ext, "parquet")).lower()
    if fmt not in ("parquet", "csv", "json"):
        raise DashboardError(f"COPY: unsupported FORMAT {fmt!r}")
    csv_opts: dict[str, str] = {}
    if fmt == "csv":
        header = opts.get("header", "true").lower() not in ("false", "0")
        csv_opts["header"] = str(header).lower()
        delim = opts.get("delimiter") or opts.get("delim") or opts.get("sep")
        if delim:
            csv_opts["sep"] = delim
    compression = opts.get("compression")
    return fmt, csv_opts, compression.lower() if compression else None


def _run_copy_to(spark, sql, vars_, macros, max_rows):
    """COPY <table|(query)> TO '<path>' (FORMAT …, HEADER …, DELIMITER
    …, COMPRESSION …) — the workhorse of reference task scripts (the task
    gate is a deny-list; dashboards reject COPY via the allow-list).
    DuckDB writes ONE file at the exact path and task scripts feed the
    path to downstream consumers, so the result is coalesced to a single
    stream and its part file moved there. Returns the written row count
    as ``Count``."""
    import os
    import shutil

    m = _COPY_RE.match(sql)
    if not m:
        raise DashboardError(
            "COPY syntax: COPY <table|(query)> TO '<path>' [(options)]"
        )
    src = m.group(1).strip()
    path = m.group(2).replace("''", "'")
    fmt, csv_opts, compression = _copy_options(path, m.group(3))
    if src.startswith("("):
        inner = src[1:-1] if src.endswith(")") else src[1:]
        df, _ = _prepare_query(spark, inner, vars_, macros)
    else:
        df = spark.table(src)
    writer = df.coalesce(1).write.mode("overwrite").options(**csv_opts)
    if compression:
        writer = writer.option("compression", compression)
    tmp_dir = path + ".__copy_tmp__"
    getattr(writer, fmt)(tmp_dir)
    part = next(
        f for f in os.listdir(tmp_dir)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    if os.path.exists(path):
        os.remove(path) if os.path.isfile(path) else shutil.rmtree(path)
    shutil.move(os.path.join(tmp_dir, part), path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    reader = spark.read.options(**csv_opts)
    if fmt == "csv":
        reader = reader.option("inferSchema", "false")
    return _copy_count(getattr(reader, fmt)(path).count())


def _run_copy_from(spark, sql, vars_, macros, max_rows):
    """COPY <table> FROM '<path>' (FORMAT …, HEADER …, DELIMITER …) —
    append the file's rows into the table (DuckDB's load half). Columns
    are matched BY NAME against the target table (the file must carry
    them: parquet/json always do, csv needs HEADER), then cast to the
    table's types by position via insertInto."""
    m = _COPY_FROM_RE.match(vars_.substitute(sql))
    if not m:
        raise DashboardError(
            "COPY syntax: COPY <table> FROM '<path>' [(options)]"
        )
    table = m.group(1).strip().strip('`"')
    path = m.group(2).replace("''", "'")
    fmt, csv_opts, _ = _copy_options(path, m.group(3))
    if csv_opts.get("header") == "false":
        raise DashboardError(
            "COPY FROM csv requires HEADER (columns match by name)"
        )
    reader = spark.read.options(**csv_opts)
    if fmt == "csv":
        reader = reader.option("inferSchema", "true")
    df = getattr(reader, fmt)(path)
    target_cols = spark.table(table).columns
    missing = [c for c in target_cols if c not in df.columns]
    if missing:
        raise DashboardError(f"COPY FROM: file lacks target columns {missing}")
    df = df.select(*target_cols)
    n = df.count()
    df.write.mode("append").insertInto(table)
    spark.catalog.refreshTable(table)
    return _copy_count(n)


def _export_import_database(spark, sql, vars_, macros, max_rows):
    """DuckDB snapshot statements (reference snapshots.go:233 issues
    EXPORT DATABASE '<s3>' (FORMAT parquet, ...); restore.go runs IMPORT
    DATABASE) — task scripts written for the reference run unchanged.
    Options in a trailing parenthesized list are accepted; only
    compression is meaningful for a parquet warehouse (FORMAT is always
    parquet here)."""
    from .snapshots import export_database, restore_database

    text = vars_.substitute(sql).strip().rstrip(";").strip()
    m_path = re.search(r"'((?:[^']|'')*)'", text)
    if not m_path:
        raise DashboardError("EXPORT/IMPORT DATABASE needs a quoted target path")
    path = m_path.group(1).replace("''", "'")
    if text.upper().startswith("EXPORT"):
        m_comp = re.search(r"COMPRESSION\s+'?(\w+)'?", text, re.IGNORECASE)
        compression = m_comp.group(1).lower() if m_comp else "zstd"
        tables = export_database(spark, path, compression=compression)
    else:
        tables = restore_database(spark, path, overwrite=True)
    return [Column(name="table_name", nullable=False, spark_type="string")], [
        [t] for t in tables
    ]


def _refuse_insert_or_replace(spark, sql, vars_, macros, max_rows):
    raise ValueError(
        "INSERT OR REPLACE/IGNORE needs enforced keys, which parquet "
        "tables do not have; run a DELETE for the keys followed by a "
        "plain INSERT instead"
    )


def _insert_returning(spark, sql, vars_, macros, max_rows):
    """DuckDB INSERT … RETURNING: run the insert, then evaluate the
    RETURNING projection over the just-inserted source rows (aliased to
    the target's column names)."""
    rm = re.match(
        r"(.*)\bRETURNING\s+(.+?)\s*;?\s*$", sql, re.IGNORECASE | re.DOTALL
    )
    im = re.match(
        r"\s*INSERT\s+INTO\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*"
        r"(\(([^)]*)\))?\s*(.*)$",
        rm.group(1),
        re.IGNORECASE | re.DOTALL,
    )
    if im is None or re.match(r"\s*BY\s+NAME\b", im.group(4) or "", re.IGNORECASE):
        raise ValueError(
            "unsupported INSERT … RETURNING form (BY NAME with "
            "RETURNING is not supported; split the statements)"
        )
    target, collist, source = im.group(1), im.group(3), im.group(4)
    _run_query(spark, rm.group(1), vars_, macros, max_rows)
    if collist:
        names = [c.strip().strip("`") for c in collist.split(",")]
    else:
        names = spark.table(target).columns
    alias_cols = ", ".join(f"`{n}`" for n in names)
    return _run_query(
        spark,
        f"SELECT {rm.group(2)} FROM ({source}) AS __inserted({alias_cols})",
        vars_,
        macros,
        max_rows,
    )


def _create_or_replace_table(spark, sql, vars_, macros, max_rows):
    """Spark's parquet catalog tables reject the v2 REPLACE op: DuckDB
    semantics are drop-then-create, so do exactly that."""
    import os
    import shutil
    from urllib.parse import urlparse

    crm = re.match(
        r"\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)",
        sql,
        re.IGNORECASE,
    )
    if not crm:
        return _run_plain(spark, sql, vars_, macros, max_rows)
    name = crm.group(1)
    # resolve the managed location from the CATALOG before the drop —
    # deriving a path from the name text can hit a different table's
    # directory (db.t → default.t) or, for a hostile backticked name,
    # escape the warehouse
    loc = None
    try:
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
            if (r[0] or "").strip().lower() == "location":
                loc = r[1]
                break
    except Exception:
        loc = None
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # the in-memory catalog resets per session while managed files
    # persist: REPLACE semantics mean any stale directory from a
    # previous session goes too — but only ever delete a path proven to
    # sit INSIDE the warehouse
    wh = os.path.realpath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    target_path = None
    if loc:
        target_path = os.path.realpath(urlparse(loc).path)
    else:
        # unknown to this session: reconstruct the managed path only for
        # simple (optionally db-qualified) identifiers; anything else
        # skips the cleanup
        raw = name.strip("`") if name.startswith("`") else name
        parts = raw.lower().split(".") if not name.startswith("`") else [raw.lower()]
        if len(parts) <= 2 and all(
            re.fullmatch(r"[a-z_][a-z0-9_]*", p) for p in parts
        ):
            if len(parts) == 2:
                db, tbl = parts
            else:
                db, tbl = spark.catalog.currentDatabase().lower(), parts[0]
            rel = tbl if db == "default" else f"{db}.db/{tbl}"
            target_path = os.path.realpath(os.path.join(wh, rel))
    if target_path and target_path.startswith(wh + os.sep):
        shutil.rmtree(target_path, ignore_errors=True)
    return _run_plain(
        spark,
        re.sub(r"^\s*CREATE\s+OR\s+REPLACE\s+TABLE\b", "CREATE TABLE", sql,
               flags=re.IGNORECASE),
        vars_,
        macros,
        max_rows,
    )


def _truncate(spark, sql, vars_, macros, max_rows):
    """DuckDB allows TRUNCATE <name> without the TABLE keyword."""
    return _run_plain(
        spark,
        re.sub(r"^\s*TRUNCATE\b", "TRUNCATE TABLE", sql, flags=re.IGNORECASE),
        vars_,
        macros,
        max_rows,
    )


def _rename_column(spark, sql, vars_, macros, max_rows):
    """v1 parquet tables don't support RENAME COLUMN: copy-on-write."""
    from .dml import alter_rename_column

    alter_rename_column(spark, sql)
    return [Column(name="Success", nullable=False, spark_type="boolean")], [[True]]


def _run_dml(spark, sql, vars_, macros, max_rows):
    """Task DML on warehouse tables — copy-on-write rewrite (the
    statement gate confines these to tasks; reference tasks run
    arbitrary DML, run_task.go:67-258). The SET and WHERE expressions
    are DuckDB dialect like any other statement's."""
    from .dml import try_execute_dml

    result = try_execute_dml(spark, rewrite_statement(vars_.substitute(sql)).sql)
    if result is None:
        return _run_plain(spark, sql, vars_, macros, max_rows)
    names, rows = result
    return [Column(name=n, nullable=False, spark_type="bigint") for n in names], rows


@dataclass(frozen=True)
class _StatementKind:
    head: re.Pattern[str]  # matched at the start of the statement
    handler: Callable[..., tuple[list[Column], list[list[Any]]]]
    side_effect: bool = False  # changes script state, shows no result
    bumps: bool = False  # mutates what cached plans read: flush them


def _kind(
    head: str, handler, side_effect: bool = False, bumps: bool = False
) -> _StatementKind:
    return _StatementKind(
        re.compile(r"\s*" + head, re.IGNORECASE | re.DOTALL),
        handler, side_effect, bumps,
    )


# Every statement kind that is not a plain query, first match wins. A
# statement no row matches runs the plain query path (_run_plain).
_STATEMENT_KINDS = (
    _kind(r"SET\s+VARIABLE\b", _set_variable, side_effect=True),
    _kind(r"RESET\s+VARIABLE\b", _reset_variable, side_effect=True),
    _kind(
        r"CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MACRO|FUNCTION)\b",
        _create_macro, side_effect=True,
    ),
    _kind(
        r"(?:CREATE(?:\s+OR\s+REPLACE)?|DROP)\s+(?:(?:PERSISTENT|TEMP(?:ORARY)?)\s+)?"
        r"SECRET\b",
        _run_secret, side_effect=True,
    ),
    _kind(r"(?:BEGIN|COMMIT|ROLLBACK|ABORT)\b", _no_op, side_effect=True),
    _kind(
        r"(?:USE|CALL|CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+(?:TABLE|VIEW))\b",
        _run_command, side_effect=True,
    ),
    _kind(r"(?:ATTACH|DETACH)\b", _run_attach, bumps=True),
    _kind(r"(?:CREATE\s+(?:OR\s+REPLACE\s+)?|DROP\s+)TYPE\b", _run_type_ddl, bumps=True),
    _kind(
        r"(?:CREATE\s+(?:OR\s+REPLACE\s+)?|DROP\s+)SEQUENCE\b",
        _run_sequence_ddl, bumps=True,
    ),
    _kind(r"EXPLAIN\b", _run_explain),
    _kind(r"SHOW\s+(?:ALL\s+)?TABLES\s*;?\s*$", _show_tables),
    _kind(r"DESC(?:RIBE)?\s", _describe),
    _kind(r"CHECKPOINT\b", _no_op),
    _kind(r"COMPACT\s+TABLE\b", _compact_table),
    _kind(r"COPY\s+[\w.`\"]+\s+FROM\s+'", _run_copy_from, bumps=True),
    _kind(r"COPY\b", _run_copy_to),
    _kind(r"(?:EXPORT|IMPORT)\s+DATABASE\b", _export_import_database),
    _kind(r"INSERT\s+OR\s+(?:REPLACE|IGNORE)\b", _refuse_insert_or_replace),
    _kind(r"INSERT\b.*\bRETURNING\s+\S", _insert_returning),
    _kind(r"CREATE\s+OR\s+REPLACE\s+TABLE\b", _create_or_replace_table),
    _kind(r"TRUNCATE\b(?!\s+TABLE\b)", _truncate),
    _kind(
        r"ALTER\s+TABLE\s+(?:`[^`]+`|[A-Za-z_][\w.]*)\s+RENAME\s+COLUMN\b",
        _rename_column,
    ),
    _kind(r"(?:UPDATE|DELETE)\b", _run_dml),
)


def _statement_kind(sql: str) -> _StatementKind | None:
    return next((k for k in _STATEMENT_KINDS if k.head.match(sql)), None)


def _run_query(
    spark: SparkSession,
    sql_string: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
    max_rows: int,
) -> tuple[list[Column], list[list[Any]]]:
    """Run one statement of any kind: the handler of its row in
    ``_STATEMENT_KINDS``, else the plain query path."""
    kind = _statement_kind(sql_string)
    if kind is None:
        return _run_plain(spark, sql_string, vars_, macros, max_rows)
    result = kind.handler(spark, sql_string, vars_, macros, max_rows)
    if kind.bumps:
        from .plancache import bump

        bump()
    return result


# The head of a statement that wraps one query: ``CREATE [OR REPLACE]
# [TEMP] TABLE|VIEW [IF NOT EXISTS] name [(cols)] AS <q>`` and ``INSERT
# INTO|OVERWRITE [TABLE] name [(cols)] <q>``. A parenthesized source
# query is not a column list.
_NAME_PART = r'(?:[A-Za-z_][\w$]*|`[^`]+`|"[^"]+")'
_NAME = rf"{_NAME_PART}(?:\s*\.\s*{_NAME_PART})*"
_COLUMN_LIST = r"(?:\((?!\s*(?:SELECT|WITH|FROM|VALUES|TABLE)\b)[^()]*\)\s*)?"
_QUERY_HEAD_RE = re.compile(
    r"\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE|VIEW)\s+"
    rf"(?:IF\s+NOT\s+EXISTS\s+)?{_NAME}\s*{_COLUMN_LIST}AS\b\s*"
    rf"|INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?{_NAME}\s*{_COLUMN_LIST})",
    re.IGNORECASE,
)

# The relation expanders, in order. Each rewrites the query body and
# returns ``(sql, bypass)``: ``bypass`` means the result reads state
# that changes per call (registered temp views, file reads, sequence
# values), so the statement skips the analyzed-plan cache.
_RELATION_EXPANDERS = (
    expand_table_functions,
    expand_information_schema,
    expand_file_functions,
    _expand_positional_joins,
    expand_sequence_calls,
    _expand_nested_pivots,
    _expand_union_by_name,
    _expand_columns_macro,
    _expand_star_replace_ordered,
    _expand_recursive_unnest,
)


def _prepare_query(
    spark: SparkSession,
    sql_string: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
) -> tuple[DataFrame, dict[int, str]]:
    """The text stage and analysis of one statement: variables, macros,
    the expanders, ``rewrite_statement`` and the plan cache. Returns the
    analyzed DataFrame and its column tags; nothing is collected. This
    is the only place DuckDB query text becomes Spark SQL: statements
    that wrap a query (EXPLAIN, DESCRIBE, COPY, SET VARIABLE, SUMMARIZE)
    prepare just that query here. The expanders register temp views and
    bump the plan cache, so callers prepare a script's statements in
    script order."""
    if sql_string.lstrip().upper().startswith("SUMMARIZE"):
        target = sql_string.strip()[len("SUMMARIZE"):].strip().rstrip(";")
        if not _PLAIN_QUERY_HEAD_RE.match(target):
            target = "FROM " + target
        df, _ = _prepare_query(spark, target, vars_, macros)
        return _run_summarize(spark, df), {}
    sub = _expand_macros(vars_.substitute(sql_string), macros)
    if sub.lstrip().upper().startswith("PIVOT") and (
        df := _run_duck_pivot(spark, sub)
    ) is not None:
        return df, {}
    # enum types map CREATE TABLE columns and guard INSERT values, so
    # they see the whole statement; the relation expanders see only the
    # query body
    sub = expand_enum_surface(spark, sub)
    m = _QUERY_HEAD_RE.match(sub)
    head, body = (sub[: m.end()], sub[m.end() :]) if m else ("", sub)
    bypass = False
    for expand in _RELATION_EXPANDERS:
        body, used = expand(spark, body)
        bypass = bypass or used
    rw = rewrite_statement(
        _reject_unsupported_duckisms(head + lower_from_first(body))
    )
    if rw.asof_joins:
        _asof_quadratic_guard(spark, rw, vars_)
    # Memoized analysis: dashboards re-serve identical statement
    # text every render; the cache returns the already-analyzed
    # lazy DataFrame (execution still runs fully on collect) and
    # every mutation path bump()s it. ONLY read-only statements are
    # cacheable — Spark runs commands (INSERT/CREATE/…, which tasks
    # route through here) eagerly inside spark.sql(), so a cache
    # hit would silently skip re-executing them. See plancache.
    from .plancache import analyzed, bump, plan_is_command

    words = rw.sql.lstrip("( \n\t").split(None, 1)
    readonly = bool(words) and words[0].upper() in _READONLY_HEADS
    if readonly and not bypass:
        df = analyzed(spark, rw.sql)
    else:
        df = spark.sql(rw.sql)
    # 'WITH cte AS (...) INSERT/MERGE ...' is valid SQL whose leading
    # keyword looks read-only: the analyzer is the authority. A
    # command executed eagerly and mutated state, so flush.
    if not readonly or (words[0].upper() == "WITH" and plan_is_command(df)):
        bump()
    return df, rw.column_tags


def _collect_query(
    df: DataFrame, tags: dict[int, str], max_rows: int
) -> tuple[list[Column], list[list[Any]]]:
    """Run ``df`` capped at ``max_rows`` (one row more is fetched, then
    cut) and describe its columns."""
    limited = df.limit(max_rows + 1)
    collected = limited.collect()
    truncated = collected[:max_rows]
    columns = [
        Column(
            name=f.name,
            nullable=f.nullable,
            custom_type=tags.get(i),
            spark_type=f.dataType.simpleString(),
        )
        for i, f in enumerate(df.schema.fields)
    ]
    rows = [list(r) for r in truncated]
    return columns, rows


def _build_download_links(
    query: Query,
    rinfo: RenderInfo,
    dashboard_id: str,
    query_index: int,
    params: dict[str, Any],
    download_link_params: dict[str, Any],
) -> str | None:
    """Turn the download column into a link; returns the dashboard a PDF
    link points at (an ``::ID`` column, else this one)."""
    if not rinfo.download or not query.rows:
        return None
    target_id = dashboard_id
    if rinfo.download == "pdf" and rinfo.download_id_index is not None:
        idv = query.rows[0][rinfo.download_id_index]
        target_id = idv if isinstance(idv, str) else ""
    for ci, col in enumerate(query.columns):
        if col.tag != "download":
            continue
        v = query.rows[0][ci]
        filename = v if isinstance(v, str) else ""
        link_params: dict[str, Any] = {}
        if rinfo.download == "pdf":
            if params:
                link_params["vars"] = base64.standard_b64encode(
                    json.dumps(params).encode()
                ).decode()
        else:
            link_params["vars"] = base64.standard_b64encode(
                json.dumps(download_link_params).encode()
            ).decode()
            link_params["query_id"] = str(query_index + 1)
        qs = "?" + urllib.parse.urlencode(link_params) if link_params else ""
        query.rows[0][ci] = (
            f"api/dashboards/{target_id}/download/"
            f"{urllib.parse.quote(filename)}.{rinfo.download}{qs}"
        )
    return target_id if rinfo.download == "pdf" else None


def _collect_download_link_params(
    link_params: dict[str, Any],
    render_type: str,
    params: dict[str, Any],
    columns: list[Column],
    rows: list[list[Any]],
) -> None:
    """Like _collect_vars but writes plain strings destined for download
    URLs (reference collectDownloadLinkParams, get_dashboard.go:1794-2058)."""

    def get_param(name: str) -> str:
        v = params.get(name)
        if isinstance(v, list):
            return v[0] if v else ""
        return v or ""

    if render_type == "dropdown":
        idx = next((i for i, c in enumerate(columns) if c.tag == "value"), -1)
        if idx == -1:
            return
        name = columns[idx].name
        param = get_param(name)
        if param and not any(row[idx] == param for row in rows):
            param = ""
        if not param and rows and isinstance(rows[0][idx], str):
            param = rows[0][idx]
        if param:
            link_params[name] = param
    elif render_type == "dropdownMulti":
        idx = next((i for i, c in enumerate(columns) if c.tag == "value"), -1)
        if idx == -1:
            return
        name = columns[idx].name
        provided = name in params
        raw = params.get(name, [])
        plist = list(raw) if isinstance(raw, list) else [raw]
        if plist:
            valid = {row[idx] for row in rows if isinstance(row[idx], str)}
            plist = [p for p in plist if p in valid]
        if not plist and not provided:
            plist = [row[idx] for row in rows if isinstance(row[idx], str)]
        link_params[name] = plist
    elif render_type in ("datepicker", "daterangePicker", "input"):
        for i, c in enumerate(columns):
            if c.tag in ("default", "defaultFrom", "defaultTo"):
                name = c.name
                param = get_param(name)
                if not param and rows:
                    v = rows[0][i]
                    if isinstance(v, (dt.date, dt.datetime)):
                        param = v.strftime("%Y-%m-%d")
                if param:
                    link_params[name] = param
            elif c.tag == "hint":
                param = get_param(c.name)
                if param:
                    link_params[c.name] = param
