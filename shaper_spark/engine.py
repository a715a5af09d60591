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
import hashlib
import datetime as dt
import json
import re
import threading
import time
import urllib.parse
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import sqltool
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
from .rewrite import _GETVAR_RE, find_variable_refs, rewrite_statement

__all__ = ["query_dashboard", "GetResult", "Section", "Query", "QUERY_MAX_ROWS"]

QUERY_MAX_ROWS = 3000

_SET_VARIABLE_RE = re.compile(
    r"^\s*SET\s+VARIABLE\s+(?:\"([^\"]+)\"|(\w+))\s*=\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_RESET_VARIABLE_RE = re.compile(
    r"^\s*RESET\s+VARIABLE\s+(?:\"([^\"]+)\"|(\w+))\s*$", re.IGNORECASE
)
# DuckDB-style session search path (reference: app.go:560 prepends
# SET search_path = 'main,"<internal>".main,system' to every query)
_SET_SEARCH_PATH_RE = re.compile(
    r"^\s*SET\s+search_path\s*=\s*'([^']*)'\s*;?\s*$", re.IGNORECASE
)
_RESET_SEARCH_PATH_RE = re.compile(
    r"^\s*RESET\s+search_path\s*;?\s*$", re.IGNORECASE
)
# TEMP is optional (batch-26: tasks may CREATE MACRO without it — the
# dashboard gate still admits only the TEMP forms, like the reference)
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
    from .rewrite import _find_matching_close, _scan_states, _split_top_level_args

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
    from .rewrite import _split_top_level_args

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
    from .rewrite import _find_matching_close

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
    from .rewrite import _scan_states, rewrite_statement

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
        depth = 0
        depths = []
        for i, c in enumerate(sql):
            if states[i] == 0:
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
            depths.append(depth)
        from_m = None
        for fm in re.finditer(r"\bFROM\b", sql[: m.start()], re.IGNORECASE):
            if states[fm.start()] == 0 and depths[fm.start()] == depths[
                m.start()
            ]:
                from_m = fm
        if from_m is None:
            return sql, used
        between = sql[from_m.end() : m.start()]
        bstates = _scan_states(between)
        bdepth = 0
        last_comma = -1
        for i, c in enumerate(between):
            if bstates[i] == 0:
                if c == "(":
                    bdepth += 1
                elif c == ")":
                    bdepth -= 1
                elif c == "," and bdepth == 0:
                    last_comma = i
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
    from .rewrite import _find_matching_close, _scan_states

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
    from .rewrite import _find_matching_close, _scan_states

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

    from .rewrite import (
        _find_matching_close,
        _scan_states,
        _split_top_level_args,
        rewrite_statement,
    )

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


_STAR_REPLACE_ENGINE_RE = re.compile(
    r"(?<![\w.])\*\s+REPLACE\s*\(", re.IGNORECASE
)


def _expand_star_replace_ordered(spark: SparkSession, sql: str):
    """``SELECT * REPLACE (expr AS col) FROM t`` with a resolvable
    single-relation FROM: expand to the full ordered column list with
    the replacement IN PLACE — DuckDB keeps the column position, and
    the text rewriter's ``* EXCEPT`` fallback (kept for join/subquery
    sources) moves it to the end.  Returns (sql, used)."""
    from .rewrite import _call_end, _scan_states, _split_top_level_args

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
        end = _call_end(sql, states, open_paren)
        if end is None:
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


def _reject_unsupported_duckisms(sql: str) -> str:
    """Documented-divergence guard: DuckDB forms whose semantics Spark
    cannot reproduce get a NAMED error with a workaround instead of an
    opaque ParseException.  ``EXCLUDE NO OTHERS`` is the SQL default
    and is simply dropped."""
    from .rewrite import _scan_states

    states = _scan_states(sql)
    out = []
    last = 0
    for m in re.finditer(
        r"\bEXCLUDE\s+NO\s+OTHERS\b", sql, re.IGNORECASE
    ):
        if states[m.start()] != 0:
            continue
        out.append(sql[last : m.start()])
        last = m.end()
    out.append(sql[last:])
    sql = "".join(out)
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
    from .rewrite import _find_matching_close, _scan_states

    sql, used = _expand_union_by_name_level(spark, sql)
    for _ in range(16):  # nesting bound; each pass clears one group
        states = _scan_states(sql)
        target = None
        for m in _UNION_BY_NAME_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            stack: list[int] = []
            for i in range(m.start()):
                if states[i] != 0:
                    continue
                if sql[i] == "(":
                    stack.append(i)
                elif sql[i] == ")" and stack:
                    stack.pop()
            if stack:
                target = (m, stack[-1])
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
    from .rewrite import _find_matching_close

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
    from .rewrite import _scan_states, rewrite_statement

    states = _scan_states(sql)
    depth = 0
    depths = {}
    for i, c in enumerate(sql):
        if states[i] == 0:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
        depths[i] = depth
    cuts = [
        m
        for m in _UNION_BY_NAME_RE.finditer(sql)
        if states[m.start()] == 0 and depths[m.start()] == 0
    ]
    if not cuts:
        return sql, False
    cte_prefix = ""
    if sql.lstrip().upper().startswith("WITH"):
        # r13 (closes the r12 loud-unsupported): a WITH prefix over a
        # BY NAME union — replicate the CTE list into EACH side so the
        # sides analyze standalone (non-recursive CTEs recompute per
        # side; semantics unchanged, the CTE is a pure subquery).
        end = _cte_prefix_end(sql, states)
        if end is None:
            raise ValueError(
                "UNION BY NAME under an unparseable WITH prefix: "
                "move the BY NAME union inside a CTE body"
            )
        cte_prefix = sql[:end].rstrip() + " "
        sql = sql[end:]
        # recompute scan state for the stripped text
        states = _scan_states(sql)
        depth = 0
        depths = {}
        for i, c in enumerate(sql):
            if states[i] == 0:
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
            depths[i] = depth
        cuts = [
            m
            for m in _UNION_BY_NAME_RE.finditer(sql)
            if states[m.start()] == 0 and depths[m.start()] == 0
        ]
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
    ls_states = _scan_states(last_side)
    d2 = 0
    for i, c in enumerate(last_side):
        if ls_states[i] != 0:
            continue
        if c == "(":
            d2 += 1
        elif c == ")":
            d2 -= 1
        elif d2 == 0 and re.match(
            r"(ORDER\s+BY|LIMIT|OFFSET|FETCH)\b",
            last_side[i:],
            re.IGNORECASE,
        ):
            tail = " " + last_side[i:].strip()
            sides[-1] = last_side[:i]
            break
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


def _run_summarize(spark: SparkSession, sql: str):
    """Emulate DuckDB ``SUMMARIZE`` with a single distributed aggregate
    pass, reshaped to one output row per column on the driver."""
    target = sql.strip()[len("SUMMARIZE"):].strip()
    # SUMMARIZE read_parquet('…') / SUMMARIZE 'file.parquet' — expand
    # the file surface first (DuckDB admits both forms).
    from .filefuncs import _CALL_RE, expand_file_functions

    if _CALL_RE.match(target) or (
        target.startswith("'") and target.rstrip(";").endswith("'")
    ):
        expanded, used = expand_file_functions(
            spark, f"FROM {target}" if target.startswith("'") else target
        )
        target = expanded[5:] if expanded.upper().startswith("FROM ") else expanded
    if target.upper().startswith(("SELECT", "FROM", "WITH", "VALUES")):
        df = spark.sql(rewrite_statement(target).sql)
    else:
        df = spark.table(target)
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
        # DuckDB-style schema search path ("main,\"db\".main,system"),
        # consulted when an unqualified table fails to resolve in the
        # current namespace (reference: app.go:546-561)
        self.search_path: list[str] = []
        self.protected: set[str] = set(protected or {})
        for k, v in (protected or {}).items():
            if isinstance(v, str):
                self.raw[k] = "'" + sqltool.escape_sql_string(v) + "'"
            elif isinstance(v, (list, tuple)):
                self.lists[k] = [str(x) for x in v]

    def defined(self) -> set[str]:
        return set(self.raw) | set(self.lists)

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


def _eval_scalar(spark: SparkSession, expr: str) -> Any:
    rows = spark.sql(f"SELECT {expr} AS v").collect()
    return rows[0][0] if rows else None


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

# Leading keywords of statements that take _run_query's plain query path
# (no EXPLAIN / DESCRIBE / SHOW / SUMMARIZE / PIVOT / COPY / DDL branch).
_PLAIN_QUERY_HEAD_RE = re.compile(
    r"\(*\s*(SELECT|WITH|FROM|VALUES)\b", re.IGNORECASE
)
# Casts that can define a variable (widgets) or mark the next statement as
# a download target. Matched as bare words anywhere in the text, so both
# ``::DROPDOWN`` and ``CAST(x AS DROPDOWN)`` count.
_DEFINING_CAST_RE = re.compile(
    r"\b(?:DROPDOWN(?:_MULTI)?|DATEPICKER(?:_FROM|_TO)?|INPUT|DOWNLOAD_\w+)\b",
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
    # may define a variable or mark a download: nothing after it runs
    # ahead until it is assembled
    stops_walk: bool


def _classify(index: int, sql: str) -> _Statement:
    allowed = sqltool.is_allowed_statement(sql)
    side_effect = sqltool.is_side_effect(sql)
    m = _SET_VARIABLE_RE.match(sql)
    return _Statement(
        index=index,
        sql=sql,
        allowed=allowed,
        side_effect=side_effect,
        refs=tuple(find_variable_refs(sql)),
        sets_var=(m.group(1) or m.group(2)) if m else None,
        prefetchable=(
            allowed
            and not side_effect
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


def _prefetch(
    spark: SparkSession,
    sql_string: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
    max_rows: int,
) -> _Launched:
    """Prepare on the calling thread, collect on the shared pool. A
    prepare error is stored in the future, so it surfaces only when
    assembly reaches the statement (and never for a skipped one)."""
    snapshot = vars_.substitute(sql_string)
    try:
        prepared = _prepare_query(spark, sql_string, vars_, macros)
    except Exception as e:
        failed: Future = Future()
        failed.set_exception(e)
        return _Launched(snapshot, failed, None)
    future = _COLLECT_POOL.submit(spark, _collect_query, *prepared, max_rows)
    return _Launched(snapshot, future, prepared)


def query_dashboard(
    spark: SparkSession,
    content: str,
    params: dict[str, Any] | None = None,
    variables: dict[str, Any] | None = None,
    dashboard_id: str = "",
    max_rows: int = QUERY_MAX_ROWS,
) -> GetResult:
    """Execute a ``;``-separated dashboard script and build the render tree."""
    params = params or {}
    result = GetResult()

    clean = sqltool.strip_sql_comments(content)
    statements = sqltool.split_sql_queries(clean)

    vars_ = _VarState(variables)
    defined_vars = vars_.defined()
    unset_vars: list[str] = []
    unset_seen: set[str] = set()
    download_link_params: dict[str, Any] = {}
    macros: dict[str, _Macro] = {}
    min_ms_all: int | None = None
    max_ms_all: int | None = None
    # Temp views a dashboard creates are session-scoped and would leak
    # into later renders on the shared session (the reference gets
    # isolation from per-connection/per-request DuckDB instances,
    # app.go:238-334); dropping them afterwards restores that contract.
    created_views: list[str] = []
    # statements launched ahead, by position among the non-empty ones
    launched: dict[int, _Launched] = {}

    try:
        return _query_dashboard_loop(
            spark, statements, params, dashboard_id, max_rows, result,
            vars_, defined_vars, unset_vars, unset_seen,
            download_link_params, macros, min_ms_all, max_ms_all,
            created_views, launched,
        )
    finally:
        # Unstarted collects are dropped; running ones read this render's
        # temp views, so they finish before the views go.
        for ahead in launched.values():
            ahead.future.cancel()
        wait([ahead.future for ahead in launched.values()])
        for view in created_views:
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
    result: GetResult,
    vars_: _VarState,
    defined_vars: set[str],
    unset_vars: list[str],
    unset_seen: set[str],
    download_link_params: dict[str, Any],
    macros: dict[str, _Macro],
    min_ms_all: int | None,
    max_ms_all: int | None,
    created_views: list[str],
    launched: dict[int, _Launched],
) -> GetResult:
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

    def launch_ahead(pos: int) -> None:
        """When stmts[pos] is about to run, prepare (here, in script
        order) and submit every statement from the frontier on that
        cannot be affected by what assembly still has to do."""
        nonlocal frontier
        frontier = max(frontier, pos)
        if macros:  # a macro body can hide a widget cast
            return
        while frontier < len(stmts):
            if frontier > pos and stmts[frontier - 1].stops_walk:
                return
            st = stmts[frontier]
            if not st.prefetchable or not vars_.defined().issuperset(st.refs):
                return
            launched[frontier] = _prefetch(
                spark, st.sql, vars_, macros, max_rows
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
            _execute_side_effect(
                spark, sql_string, vars_, macros, created_views
            )
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
            ahead = None
        if ahead is None:
            columns, rows = _run_query(
                spark, sql_string, vars_, macros, max_rows
            )
        elif ahead.future.cancel():
            columns, rows = _collect_query(*ahead.prepared, max_rows)
        else:
            columns, rows = ahead.future.result()

        query = Query(rows=rows)

        if is_label(columns, rows):
            v = rows[0][0]
            next_label = v if isinstance(v, str) else ""
            continue

        if is_section_title(columns, rows):
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

        _build_download_links(
            query, rinfo, dashboard_id, query_index, params, download_link_params
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
    return result


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
    from .plancache import stats as _pc_stats
    from .rewrite import with_prologue

    key = (_pc_stats()["generation"], limit, rw.sql)
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


def _execute_side_effect(
    spark: SparkSession,
    sql_string: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
    created_views: list[str] | None = None,
) -> None:
    if created_views is not None:
        vm = _TEMP_VIEW_NAME_RE.match(sql_string.strip())
        if vm:
            created_views.append(vm.group(1).strip('"`'))
    upper = sql_string.upper().strip()
    m = _SET_SEARCH_PATH_RE.match(sql_string)
    if m:
        vars_.search_path = _parse_search_path(m.group(1))
        return
    if _RESET_SEARCH_PATH_RE.match(sql_string):
        vars_.search_path = []
        return
    m = _SET_VARIABLE_RE.match(sql_string)
    if m:
        name = m.group(1) or m.group(2)
        expr = vars_.substitute(m.group(3).strip())
        expr = _expand_macros(expr, macros)
        value = _eval_scalar(spark, rewrite_statement("SELECT " + expr).sql[7:])
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
        return
    m = _RESET_VARIABLE_RE.match(sql_string)
    if m:
        name = m.group(1) or m.group(2)
        vars_.raw.pop(name, None)
        vars_.lists.pop(name, None)
        return
    macro = _parse_macro(sql_string)
    if macro:
        macros[macro.name] = macro
        return
    if "SECRET" in upper.split(None, 5)[:5]:
        from .secrets import try_execute_secret

        if try_execute_secret(spark, vars_.substitute(sql_string)):
            return
    if upper.startswith(("ATTACH", "DETACH")):
        from .attach import try_execute_attach
        from .plancache import bump as _bump_attach

        if try_execute_attach(spark, vars_.substitute(sql_string)):
            _bump_attach()  # new/removed catalog entries
            return
        raise ValueError(f"Unsupported ATTACH/DETACH syntax: {sql_string!r}")
    if upper.startswith(("BEGIN", "COMMIT", "ROLLBACK", "ABORT")):
        return  # no transactions on Spark; per-statement atomicity only
    from .plancache import bump

    if _CREATE_TEMP_TABLE_RE.match(sql_string):
        # Spark has no temp tables — a temp view gives the same
        # statement-scoped namespace (lazily recomputed; CACHE TABLE would
        # materialize it if a dashboard needs it hot).
        sql_string = _CREATE_TEMP_TABLE_RE.sub(
            lambda m2: "CREATE OR REPLACE TEMPORARY VIEW ", sql_string
        )
        rewritten = rewrite_statement(vars_.substitute(sql_string)).sql
        spark.sql(rewritten)
        bump()  # catalog changed: memoized analyzed plans are stale
        return
    # USE / CALL / CREATE TEMP VIEW — run through Spark directly.
    rewritten = rewrite_statement(vars_.substitute(sql_string)).sql
    rewritten = _expand_macros(rewritten, macros)
    spark.sql(rewritten)
    bump()  # side-effect statement: flush memoized analyzed plans


def _parse_search_path(raw: str) -> list[str]:
    """'main,"mydb".main,system' → Spark database candidates in order.
    DuckDB's ``main`` = the current namespace (kept as the sentinel
    ``None`` meaning "no switch"), ``system`` has no Spark counterpart
    (dropped), and ``"db".main`` / ``db.main`` / ``db`` all name the
    Spark database ``db``."""
    out: list[str] = []
    for entry in raw.split(","):
        e = entry.strip()
        if not e:
            continue
        if e.lower() in ("main", "system"):
            continue
        first = e.split(".", 1)[0].strip().strip('"')
        if first and first not in out:
            out.append(first)
    return out


def _sql_with_search_path(spark: SparkSession, sql: str, path: list[str]):
    """Run ``sql``; when an unqualified table fails to resolve, retry
    the analysis with each search-path database as the current
    namespace, in order — first schema that resolves wins (the DuckDB
    search_path rule at schema granularity).  The current database is
    always restored."""
    try:
        return spark.sql(sql)
    except Exception as e:
        if "TABLE_OR_VIEW_NOT_FOUND" not in str(e) or not path:
            raise
        current = spark.catalog.currentDatabase()
        for db in path:
            if db == current or not spark.catalog.databaseExists(db):
                continue
            try:
                spark.catalog.setCurrentDatabase(db)
                return spark.sql(sql)
            except Exception:
                continue
            finally:
                spark.catalog.setCurrentDatabase(current)
        raise


_COPY_RE = re.compile(
    r"^\s*COPY\s+(.*?)\s+TO\s+'((?:[^']|'')*)'\s*(?:\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_COPY_EXT_FMT = {"parquet": "parquet", "csv": "csv", "json": "json",
                 "jsonl": "json", "ndjson": "json"}


def _run_copy_to(
    spark: SparkSession, text: str, macros: dict[str, _Macro]
) -> tuple[list[Column], list[list[Any]]]:
    """COPY <table|(query)> TO '<path>' (FORMAT …, HEADER …, DELIMITER
    …, COMPRESSION …) — single-file semantics like DuckDB (the path IS
    the file). Returns the written row count as ``Count``."""
    import os
    import shutil

    m = _COPY_RE.match(text)
    if not m:
        raise DashboardError(
            "COPY syntax: COPY <table|(query)> TO '<path>' [(options)]"
        )
    src = m.group(1).strip()
    path = m.group(2).replace("''", "'")
    opt_text = m.group(3) or ""
    opts: dict[str, str] = {}
    for part in re.split(r",", opt_text):
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
    if src.startswith("("):
        inner = src[1:-1] if src.endswith(")") else src[1:]
        inner = _expand_macros(inner, macros)
        df = spark.sql(rewrite_statement(inner).sql)
    else:
        df = spark.table(src)
    writer = df.coalesce(1).write.mode("overwrite")
    read_opts: dict[str, str] = {}
    if fmt == "csv":
        header = opts.get("header", "true").lower() not in ("false", "0")
        writer = writer.option("header", str(header).lower())
        read_opts["header"] = str(header).lower()
        delim = opts.get("delimiter") or opts.get("delim") or opts.get("sep")
        if delim:
            writer = writer.option("sep", delim)
            read_opts["sep"] = delim
    if "compression" in opts:
        writer = writer.option("compression", opts["compression"].lower())
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
    reader = spark.read
    for k, v in read_opts.items():
        reader = reader.option(k, v)
    if fmt == "csv":
        reader = reader.option("inferSchema", "false")
    n = getattr(reader, fmt)(path).count()
    return [
        Column(name="Count", nullable=False, spark_type="bigint")
    ], [[n]]


_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+([\w.`\"]+)\s+FROM\s+'((?:[^']|'')*)'\s*"
    r"(?:\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)


def _run_copy_from(
    spark: SparkSession, text: str
) -> tuple[list[Column], list[list[Any]]]:
    """COPY <table> FROM '<path>' (FORMAT …, HEADER …, DELIMITER …) —
    append the file's rows into the table (DuckDB's load half).
    Columns are matched BY NAME against the target table (the file
    must carry them: parquet/json always do, csv needs HEADER), then
    cast to the table's types by position via insertInto."""
    m = _COPY_FROM_RE.match(text)
    if not m:
        raise DashboardError(
            "COPY syntax: COPY <table> FROM '<path>' [(options)]"
        )
    table = m.group(1).strip().strip('`"')
    path = m.group(2).replace("''", "'")
    opts: dict[str, str] = {}
    for part in (m.group(3) or "").split(","):
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
    reader = spark.read
    if fmt == "csv":
        header = opts.get("header", "true").lower() not in ("false", "0")
        if not header:
            raise DashboardError(
                "COPY FROM csv requires HEADER (columns match by name)"
            )
        reader = reader.option("header", "true").option(
            "inferSchema", "true"
        )
        delim = opts.get("delimiter") or opts.get("delim") or opts.get("sep")
        if delim:
            reader = reader.option("sep", delim)
    df = getattr(reader, fmt)(path)
    target_cols = spark.table(table).columns
    missing = [c for c in target_cols if c not in df.columns]
    if missing:
        raise DashboardError(
            f"COPY FROM: file lacks target columns {missing}"
        )
    df = df.select(*target_cols)
    n = df.count()
    df.write.mode("append").insertInto(table)
    spark.catalog.refreshTable(table)
    from .plancache import bump

    bump()
    return [
        Column(name="Count", nullable=False, spark_type="bigint")
    ], [[n]]


def _run_query(
    spark: SparkSession,
    sql_string: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
    max_rows: int,
) -> tuple[list[Column], list[list[Any]]]:
    upper = sql_string.upper().strip()
    if upper.startswith(("ATTACH", "DETACH")):
        # Tasks run ATTACH/DETACH as ordinary statements with empty
        # results (reference run_task.go:51 marks them no-tx and
        # executes them directly).
        from .attach import try_execute_attach
        from .plancache import bump as _bump_attach

        if try_execute_attach(spark, vars_.substitute(sql_string)):
            _bump_attach()
            return [], []
        raise ValueError(f"Unsupported ATTACH/DETACH syntax: {sql_string!r}")
    if re.match(
        r"\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?TYPE|DROP\s+TYPE)\b",
        sql_string,
        re.IGNORECASE,
    ):
        # DuckDB user types: ENUMs are emulated via the warehouse
        # registry (enums.py; reference duckdb_schema.go:124-161);
        # task scripts create them, dashboards only consume them.
        from .enums import try_execute_type_ddl
        from .plancache import bump as _bump_type

        if try_execute_type_ddl(spark, vars_.substitute(sql_string)):
            _bump_type()
            return [], []
        raise ValueError(f"Unsupported type DDL: {sql_string!r}")
    if re.match(
        r"\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?SEQUENCE|DROP\s+SEQUENCE)\b",
        sql_string,
        re.IGNORECASE,
    ):
        # DuckDB sequences: warehouse-registry emulation (sequences.py,
        # r13 — the enums.py pattern); task scripts create them,
        # nextval/currval deal from the registry under a file lock.
        from .plancache import bump as _bump_seq
        from .sequences import try_execute_sequence_ddl

        if try_execute_sequence_ddl(spark, vars_.substitute(sql_string)):
            _bump_seq()
            return [], []
        raise ValueError(f"Unsupported sequence DDL: {sql_string!r}")
    if upper.startswith("EXPLAIN"):
        # DuckDB's EXPLAIN shape: (explain_key, explain_value) — one
        # row with the plan tree (r11; Spark returns a single 'plan'
        # column).  The plan TEXT is engine-specific by nature.
        from .rewrite import rewrite_statement as _rw

        body = re.sub(
            r"^EXPLAIN\s+(ANALYZE\s+)?", "",
            vars_.substitute(sql_string).strip(),
            flags=re.IGNORECASE,
        ).rstrip(";")
        analyze = bool(
            re.match(r"EXPLAIN\s+ANALYZE\b", upper)
        )
        inner = spark.sql(_rw(body).sql)
        plan = inner._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        if analyze:
            # Execute like DuckDB's ANALYZE but never materialize the
            # result on the driver (r11 verdict: a full collect() here
            # was an unbounded driver-side sink reachable from any
            # dashboard).  The noop sink runs the whole plan
            # executor-side and discards rows; count() is the fallback
            # (also executor-side, one long to the driver).
            try:
                inner.write.format("noop").mode("overwrite").save()
            except Exception:
                inner.count()
        key = "analyzed_plan" if analyze else "physical_plan"
        return (
            [
                Column(
                    name="explain_key", nullable=False,
                    spark_type="string",
                ),
                Column(
                    name="explain_value", nullable=False,
                    spark_type="string",
                ),
            ],
            [[key, plan]],
        )
    if re.fullmatch(r"SHOW\s+(?:ALL\s+)?TABLES\s*;?", upper):
        # DuckDB's SHOW TABLES shape: one 'name' column, sorted
        # (Spark's is namespace/tableName/isTemporary — r11)
        names = sorted(
            r.tableName for r in spark.sql("SHOW TABLES").collect()
        )
        return (
            [Column(name="name", nullable=False, spark_type="string")],
            [[n] for n in names],
        )
    if upper.startswith(("DESCRIBE ", "DESC ")):
        # DuckDB's DESCRIBE shape: (column_name, column_type, null,
        # key, default, extra) with DuckDB type spellings — pasted
        # dashboards key on those names (r11; Spark's native DESC
        # returns col_name/data_type/comment).  rewrite_statement is
        # the module-level import — a local import here would shadow
        # it for the whole function scope.
        from .udfs import _duckdb_typename

        body = re.sub(
            r"^(?:DESCRIBE|DESC)\s+", "",
            vars_.substitute(sql_string).strip(),
            flags=re.IGNORECASE,
        ).rstrip(";").strip()
        if re.match(r"(?:SELECT|WITH|FROM|VALUES)\b", body, re.IGNORECASE):
            schema = spark.sql(rewrite_statement(body).sql).schema
        else:
            schema = spark.table(body).schema
        cols = [
            Column(name=n, nullable=True, spark_type="string")
            for n in (
                "column_name", "column_type", "null", "key",
                "default", "extra",
            )
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
    if upper.startswith("CHECKPOINT"):
        # DuckDB CHECKPOINT flushes the WAL into the single database
        # file (reference restore.go:229 issues it after IMPORT).  A
        # Spark warehouse has no WAL; storage hygiene is explicit
        # compaction (COMPACT TABLE below) — bare CHECKPOINT succeeds
        # as a no-op for script parity.
        return [], []
    if upper.startswith("COMPACT TABLE"):
        # Dialect extension (documented in MIGRATION.md): the
        # small-files maintenance the reference never needs (single
        # DuckDB file) but a parquet warehouse does.  Task-scope only —
        # the read-only dashboard gate does not allow it.
        from .compaction import compact_table

        target = (
            vars_.substitute(sql_string)
            .strip()[len("COMPACT TABLE"):]
            .strip()
            .rstrip(";")
            .strip()
        )
        # optional clustering clause: COMPACT TABLE t ORDER BY a, b
        sort_by = None
        m_order = re.search(r"\sORDER\s+BY\s+(.+)$", target, re.IGNORECASE)
        if m_order:
            sort_by = [
                c.strip() for c in m_order.group(1).split(",") if c.strip()
            ]
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
            Column(name=n, nullable=False, spark_type=t)
            for n, t in names_types
        ], [
            [
                report["compacted"],
                report["n_files"],
                report["after"]["n_files"],
                report["total_bytes"],
                report["n_target_files"],
            ]
        ]
    if upper.startswith("COPY") and re.search(
        r"\bFROM\s+'", sql_string, re.IGNORECASE
    ):
        # COPY <table> FROM '<path>' (options) — the file-load half.
        return _run_copy_from(spark, vars_.substitute(sql_string))
    if upper.startswith("COPY") and re.search(
        r"\bTO\s+'", sql_string, re.IGNORECASE
    ):
        # DuckDB COPY <table|(query)> TO '<path>' (FORMAT …) — the
        # workhorse of reference task scripts (the task gate is a
        # deny-list, so DuckDB admits COPY in tasks; dashboards reject
        # it via the allow-list, matching sql_validation.go). DuckDB
        # writes ONE file at the exact path; we mirror that (coalesce
        # to a single stream, then move the part file) because task
        # scripts feed the path to downstream consumers. A distributed
        # multi-file export is CREATE TABLE AS / EXPORT DATABASE.
        return _run_copy_to(spark, vars_.substitute(sql_string), macros)
    if upper.startswith(("EXPORT DATABASE", "IMPORT DATABASE")):
        # DuckDB snapshot statements (reference snapshots.go:233 issues
        # EXPORT DATABASE '<s3>' (FORMAT parquet, ...); restore.go runs
        # IMPORT DATABASE) — task scripts written for the reference run
        # unchanged.  Options in a trailing parenthesized list are
        # accepted; only compression is meaningful for a parquet
        # warehouse (FORMAT is always parquet here).
        from .snapshots import export_database, restore_database

        text = vars_.substitute(sql_string).strip().rstrip(";").strip()
        is_export = upper.startswith("EXPORT")
        m_path = re.search(r"'((?:[^']|'')*)'", text)
        if not m_path:
            raise DashboardError(
                "EXPORT/IMPORT DATABASE needs a quoted target path"
            )
        path = m_path.group(1).replace("''", "'")
        if is_export:
            compression = "zstd"
            m_comp = re.search(
                r"COMPRESSION\s+'?(\w+)'?", text, re.IGNORECASE
            )
            if m_comp:
                compression = m_comp.group(1).lower()
            tables = export_database(spark, path, compression=compression)
        else:
            tables = restore_database(spark, path, overwrite=True)
        return [
            Column(name="table_name", nullable=False, spark_type="string")
        ], [[t] for t in tables]
    if upper.startswith(("INSERT OR REPLACE", "INSERT OR IGNORE")):
        raise ValueError(
            "INSERT OR REPLACE/IGNORE needs enforced keys, which "
            "parquet tables do not have; run a DELETE for the keys "
            "followed by a plain INSERT instead"
        )
    if upper.startswith("INSERT") and (
        rm := re.match(
            r"(.*)\bRETURNING\s+(.+?)\s*;?\s*$",
            sql_string,
            re.IGNORECASE | re.DOTALL,
        )
    ):
        # DuckDB INSERT … RETURNING: run the insert, then evaluate the
        # RETURNING projection over the just-inserted source rows
        # (aliased to the target's column names)
        im = re.match(
            r"\s*INSERT\s+INTO\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*"
            r"(\(([^)]*)\))?\s*(.*)$",
            rm.group(1),
            re.IGNORECASE | re.DOTALL,
        )
        if im is None or re.match(
            r"\s*BY\s+NAME\b", im.group(4) or "", re.IGNORECASE
        ):
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
            f"SELECT {rm.group(2)} FROM ({source}) AS "
            f"__inserted({alias_cols})",
            vars_,
            macros,
            max_rows,
        )
    if upper.startswith("CREATE OR REPLACE TABLE"):
        # Spark's parquet catalog tables reject the v2 REPLACE op:
        # DuckDB semantics are drop-then-create, so do exactly that
        crm = re.match(
            r"CREATE\s+OR\s+REPLACE\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)",
            sql_string.strip(),
            re.IGNORECASE,
        )
        if crm:
            import os
            import shutil
            from urllib.parse import urlparse

            name = crm.group(1)
            # resolve the managed location from the CATALOG before the
            # drop — deriving a path from the name text can hit a
            # different table's directory (db.t → default.t) or, for a
            # hostile backticked name, escape the warehouse (r11
            # ADVICE)
            loc = None
            try:
                for r in spark.sql(
                    f"DESCRIBE TABLE EXTENDED {name}"
                ).collect():
                    if (r[0] or "").strip().lower() == "location":
                        loc = r[1]
                        break
            except Exception:
                loc = None
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            # the in-memory catalog resets per session while managed
            # files persist: REPLACE semantics mean any stale
            # directory from a previous session goes too — but only
            # ever delete a path proven to sit INSIDE the warehouse
            wh = os.path.realpath(
                urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            )
            target_path = None
            if loc:
                target_path = os.path.realpath(urlparse(loc).path)
            else:
                # unknown to this session: reconstruct the managed
                # path only for simple (optionally db-qualified)
                # identifiers; anything else skips the cleanup
                raw = name.strip("`") if name.startswith("`") else name
                parts = raw.lower().split(".") if not name.startswith(
                    "`"
                ) else [raw.lower()]
                if len(parts) <= 2 and all(
                    re.fullmatch(r"[a-z_][a-z0-9_]*", p) for p in parts
                ):
                    if len(parts) == 2:
                        db, tbl = parts
                    else:
                        db, tbl = (
                            spark.catalog.currentDatabase().lower(),
                            parts[0],
                        )
                    rel = tbl if db == "default" else f"{db}.db/{tbl}"
                    target_path = os.path.realpath(
                        os.path.join(wh, rel)
                    )
            if target_path and target_path.startswith(wh + os.sep):
                shutil.rmtree(target_path, ignore_errors=True)
            sql_string = re.sub(
                r"^\s*CREATE\s+OR\s+REPLACE\s+TABLE\b",
                "CREATE TABLE",
                sql_string,
                flags=re.IGNORECASE,
            )
            upper = sql_string.strip().upper()
    if upper.startswith("TRUNCATE") and not upper.startswith(
        "TRUNCATE TABLE"
    ):
        # DuckDB allows TRUNCATE <name> without the TABLE keyword
        sql_string = re.sub(
            r"^\s*TRUNCATE\b", "TRUNCATE TABLE", sql_string,
            flags=re.IGNORECASE,
        )
        upper = sql_string.strip().upper()
    if re.match(
        r"\s*ALTER\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s+RENAME\s+COLUMN\b",
        sql_string,
        re.IGNORECASE,
    ):
        # v1 parquet tables don't support RENAME COLUMN: copy-on-write
        from .dml import alter_rename_column

        alter_rename_column(spark, sql_string)
        return [
            Column(name="Success", nullable=False, spark_type="boolean")
        ], [[True]]
    if upper.startswith(("UPDATE", "DELETE")):
        # Task DML on warehouse tables — copy-on-write rewrite (the
        # statement gate already confines these to tasks; reference
        # tasks run arbitrary DML, run_task.go:67-258).
        from .dml import try_execute_dml

        dml_result = try_execute_dml(spark, vars_.substitute(sql_string))
        if dml_result is not None:
            names, rows = dml_result
            return [
                Column(name=n, nullable=False, spark_type="bigint")
                for n in names
            ], rows
    if upper.startswith("SUMMARIZE"):
        df = _run_summarize(spark, vars_.substitute(sql_string))
        tags: dict[int, str] = {}
    elif upper.startswith("PIVOT") and (
        df := _run_duck_pivot(spark, vars_.substitute(sql_string))
    ) is not None:
        tags = {}
    else:
        df, tags = _prepare_query(spark, sql_string, vars_, macros)
    return _collect_query(df, tags, max_rows)


def _prepare_query(
    spark: SparkSession,
    sql_string: str,
    vars_: _VarState,
    macros: dict[str, _Macro],
) -> tuple[DataFrame, dict[int, str]]:
    """Text stage and analysis of a plain query: variables, macros, the
    expanders, ``rewrite_statement`` and the plan cache. Returns the
    analyzed DataFrame and its column tags; nothing is collected. The
    expanders register temp views and bump the plan cache, so callers
    prepare a script's statements in script order."""
    sub = vars_.substitute(sql_string)
    sub = _expand_macros(sub, macros)
    from .enums import expand_enum_surface

    sub = expand_enum_surface(spark, sub)
    from .filefuncs import expand_file_functions
    from .tablefuncs import (
        expand_information_schema,
        expand_table_functions,
    )

    sub, used_tablefuncs = expand_table_functions(spark, sub)
    sub, used_infoschema = expand_information_schema(spark, sub)
    used_tablefuncs = used_tablefuncs or used_infoschema
    sub, used_filefuncs = expand_file_functions(spark, sub)
    sub, used_posjoin = _expand_positional_joins(spark, sub)
    used_filefuncs = used_filefuncs or used_posjoin
    # nextval/currval deal MUTABLE registry state per evaluation —
    # the used flag bypasses analysis memoization like file reads
    from .sequences import expand_sequence_calls

    sub, used_seq = expand_sequence_calls(spark, sub)
    used_filefuncs = used_filefuncs or used_seq
    # DuckDB PIVOT sugar inside a CTE body or derived table:
    # materialize each "(PIVOT …)" group as a temp view so the
    # enclosing query reads it like any other relation (DuckDB
    # expands the same sugar to a macro before binding).
    sub, used_pivot = _expand_nested_pivots(spark, sub)
    sub, used_ubn = _expand_union_by_name(spark, sub)
    sub, used_colmacro = _expand_columns_macro(spark, sub)
    sub, used_replace = _expand_star_replace_ordered(spark, sub)
    sub, used_runnest = _expand_recursive_unnest(spark, sub)
    used_tablefuncs = (
        used_tablefuncs
        or used_pivot
        or used_ubn
        or used_colmacro
        or used_replace
        or used_runnest
    )
    sub = _reject_unsupported_duckisms(sub)
    used_tablefuncs = used_tablefuncs or used_filefuncs
    rw = rewrite_statement(sub)
    if rw.asof_joins:
        _asof_quadratic_guard(spark, rw, vars_)
    # Memoized analysis: dashboards re-serve identical statement
    # text every render; the cache returns the already-analyzed
    # lazy DataFrame (execution still runs fully on collect) and
    # every mutation path bump()s it. ONLY read-only statements are
    # cacheable — Spark runs commands (INSERT/CREATE/…, which tasks
    # route through here) eagerly inside spark.sql(), so a cache
    # hit would silently skip re-executing them — and duckdb_*()
    # catalog snapshots re-materialize per call, so they bypass the
    # cache too. See plancache.
    from .plancache import analyzed, bump, plan_is_command

    head = rw.sql.lstrip("( \n\t").split(None, 1)
    readonly_head = bool(head) and head[0].upper() in _READONLY_HEADS
    if vars_.search_path:
        # resolution depends on session state the cache key doesn't
        # carry — bypass the cache while a search path is active
        df = _sql_with_search_path(spark, rw.sql, vars_.search_path)
        if not readonly_head or (
            head[0].upper() == "WITH" and plan_is_command(df)
        ):
            bump()  # command executed eagerly under the search path
    elif used_tablefuncs:
        df = spark.sql(rw.sql)
        if not readonly_head or (
            head[0].upper() == "WITH" and plan_is_command(df)
        ):
            bump()
    elif readonly_head:
        df = analyzed(spark, rw.sql)
        # 'WITH cte AS (...) INSERT/MERGE ...' is valid SQL whose
        # leading keyword looks read-only: the analyzer is the
        # authority. analyzed() never memoizes command plans (each
        # call re-executes), but the mutation must still flush
        # previously cached plans.
        if head[0].upper() == "WITH" and plan_is_command(df):
            bump()
    else:
        df = spark.sql(rw.sql)
        bump()  # command statement: executed eagerly, mutates state
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
) -> None:
    if not rinfo.download or not query.rows:
        return
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
        target_id = dashboard_id
        if rinfo.download == "pdf" and rinfo.download_id_index is not None:
            idv = query.rows[0][rinfo.download_id_index]
            target_id = idv if isinstance(idv, str) else ""
        query.rows[0][ci] = (
            f"api/dashboards/{target_id}/download/"
            f"{urllib.parse.quote(filename)}.{rinfo.download}{qs}"
        )


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
