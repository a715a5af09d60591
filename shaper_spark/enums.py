"""DuckDB ENUM type emulation.

The reference introspects enums straight off DuckDB's catalog
(``server/core/duckdb_schema.go:124-161``: ``duckdb_types()`` rows with
``logical_type = 'ENUM'``, values via ``SELECT enum_range(NULL::"s"."n")``)
and task scripts create them with ``CREATE TYPE … AS ENUM``.  Spark has
no user-defined SQL types, so the emulation keeps a tiny JSON registry
under the warehouse directory (durable across sessions, shared by
multi-instance deployments the same way the warehouse parquet is) and
lowers every enum surface onto VARCHAR:

* ``CREATE TYPE name AS ENUM ('a','b')`` / ``DROP TYPE`` — registry DDL
  (task scripts; the dashboard statement gate rejects them like the
  reference's validation list does).
* column defs ``CREATE TABLE t (m mood)`` — the type token becomes
  STRING and the (table, column, enum) triple is recorded so writes can
  enforce membership.
* ``expr::mood`` / ``CAST(expr AS mood)`` — a membership guard: NULL
  passes through, a registered value casts to STRING, anything else
  ``raise_error``s with DuckDB's "Could not convert" wording.
* ``enum_range/enum_first/enum_last(x::mood)`` — constant-folded to the
  literal value list (the exact introspection query the reference runs).
* ``INSERT INTO t …`` where ``t`` has enum columns — the source is
  wrapped in a SELECT applying the guard positionally, so an invalid
  value fails the statement before anything commits (per-statement
  atomicity).  UPDATE assignments get the same guard in ``dml.py``.

Documented divergences: enum comparisons order lexically (DuckDB orders
by declaration position); ``enum_range(col)`` on a bare column is
unsupported (the type isn't recoverable from a VARCHAR column — use the
``NULL::name`` form the reference itself uses); ``DROP TYPE`` does not
check for dependent tables.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any
from urllib.parse import urlparse

from .rewrite import _pull_primary_left
from .sqltool import _depth0_commas, _find_matching_close, _scan_states

__all__ = [
    "try_execute_type_ddl",
    "expand_enum_surface",
    "enum_guard_for_column",
    "list_enums",
]

_QNAME = (
    r'(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*)'
    r'(?:\s*\.\s*(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*))?'
)
_CREATE_TYPE_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?TYPE\s+(IF\s+NOT\s+EXISTS\s+)?"
    rf"({_QNAME})\s+AS\s+(\w+)",
    re.IGNORECASE,
)
_DROP_TYPE_RE = re.compile(
    rf"^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?({_QNAME})\s*;?\s*$",
    re.IGNORECASE,
)
_VALUE_RE = re.compile(r"'((?:[^']|'')*)'")
_ENUM_FN_RE = re.compile(r"\benum_(range|first|last)\s*\(", re.IGNORECASE)
_CAST_RE = re.compile(r"\bCAST\s*\(", re.IGNORECASE)
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|" + _QNAME + r")\s*\(",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:OR\s+(?:REPLACE|IGNORE)\s+)?INTO\s+"
    r"(`[^`]+`|" + _QNAME + r")\s*(\([^)]*\))?\s*",
    re.IGNORECASE,
)


def _norm(name: str) -> str:
    """Unquote, drop the schema qualifier, lower-case."""
    parts = re.findall(r'"[^"]+"|[^".\s]+', name)
    last = parts[-1] if parts else name
    return last.strip('"').strip("`").lower()


def _store_path(spark) -> str:
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(wh, "_shaper_enums.json")


_CACHE: dict[str, tuple[int, dict[str, Any]]] = {}


def _load(spark) -> dict[str, Any]:
    """mtime-validated read — the serving path calls this per
    statement and must not pay a JSON parse when nothing changed
    (other instances may write the file, so mtime is the signal)."""
    path = _store_path(spark)
    try:
        mt = os.stat(path).st_mtime_ns
    except OSError:
        return {"enums": {}, "table_cols": {}}
    hit = _CACHE.get(path)
    if hit is not None and hit[0] == mt:
        return hit[1]
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        data = {}
    data.setdefault("enums", {})
    data.setdefault("table_cols", {})
    _CACHE[path] = (mt, data)
    return data


def _save(spark, data: dict[str, Any]) -> None:
    path = _store_path(spark)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f)
    os.replace(tmp, path)


def list_enums(spark) -> dict[str, list[str]]:
    """name → values, for introspection (duckdb_schema.go:136-161)."""
    return dict(sorted(_load(spark)["enums"].items()))


def try_execute_type_ddl(spark, sql: str) -> bool:
    """Handle CREATE TYPE … AS ENUM / DROP TYPE.  Returns False when
    the statement isn't type DDL; raises on non-ENUM CREATE TYPE and
    on DuckDB-shaped catalog errors (duplicate / unknown name)."""
    m = _CREATE_TYPE_RE.match(sql)
    if m:
        replace, if_not_exists, name, kind = (
            bool(m.group(1)),
            bool(m.group(2)),
            _norm(m.group(3)),
            m.group(4).upper(),
        )
        if kind != "ENUM":
            raise ValueError(
                f"CREATE TYPE … AS {kind} is not supported "
                "(only ENUM types are emulated)"
            )
        open_paren = sql.index("(", m.end() - 1)
        states = _scan_states(sql)
        close = _find_matching_close(sql, open_paren, states)
        if close == -1:
            raise ValueError(f"Unbalanced CREATE TYPE: {sql!r}")
        values = [
            v.replace("''", "'")
            for v in _VALUE_RE.findall(sql[open_paren + 1 : close])
        ]
        if not values:
            raise ValueError("CREATE TYPE … AS ENUM needs at least one value")
        data = _load(spark)
        if name in data["enums"] and not (replace or if_not_exists):
            raise ValueError(
                f'Catalog Error: Type with name "{name}" already exists!'
            )
        if name not in data["enums"] or replace:
            data["enums"][name] = values
            _save(spark, data)
        return True
    m = _DROP_TYPE_RE.match(sql)
    if m:
        if_exists, name = bool(m.group(1)), _norm(m.group(2))
        data = _load(spark)
        if name not in data["enums"]:
            if if_exists:
                return True
            raise ValueError(
                f'Catalog Error: Type with name "{name}" does not exist!'
            )
        del data["enums"][name]
        data["table_cols"] = {
            t: {c: e for c, e in cols.items() if e != name}
            for t, cols in data["table_cols"].items()
        }
        _save(spark, data)
        return True
    return False


def _guard(expr: str, name: str, values: list[str]) -> str:
    vals = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    if re.fullmatch(r"[\w`\".]+", expr.strip()):
        # simple column/identifier reference: referencing it three
        # times is free and stays whole-stage-codegen'd
        e = f"CAST(({expr}) AS STRING)"
        return (
            f"(CASE WHEN {e} IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {e} IN ({vals}) THEN {e} "
            f"ELSE raise_error(concat('Conversion Error: Could not convert "
            f"string ''', {e}, ''' to {name}')) END)"
        )
    # Compound expression (r12 ADVICE): bind ONCE via a single-element
    # transform() so a nondeterministic or expensive expression is
    # evaluated exactly once — the membership check, the returned
    # value, and the error message all read the same computed value.
    # Interpreted-lambda cost is irrelevant here: guards run on DML
    # statements, never in scan-shaped operator paths.
    body = (
        f"CASE WHEN __ev IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN __ev IN ({vals}) THEN __ev "
        f"ELSE CAST(raise_error(concat('Conversion Error: Could not "
        f"convert string ''', __ev, ''' to {name}')) AS STRING) END"
    )
    return (
        f"element_at(transform(array(CAST(({expr}) AS STRING)), "
        f"__ev -> {body}), 1)"
    )


def enum_guard_for_column(spark, table: str, col: str, expr: str) -> str | None:
    """Membership guard for an UPDATE/INSERT expression targeting an
    enum-typed column, or None when the column isn't enum-typed."""
    data = _load(spark)
    cols = data["table_cols"].get(_norm(table), {})
    enum = cols.get(col.lower())
    if enum is None or enum not in data["enums"]:
        return None
    return _guard(expr, enum, data["enums"][enum])


def _cast_suffix_re(names: list[str]) -> re.Pattern:
    alts = "|".join(re.escape(n) for n in names)
    return re.compile(
        rf'::\s*(?:"[^"]+"\s*\.\s*)?("?)({alts})\1(?![\w(])',
        re.IGNORECASE,
    )


def _expand_enum_functions(sql: str, enums: dict[str, list[str]]) -> str:
    """enum_range/first/last over a ``… :: name`` operand → literals."""
    suffix = _cast_suffix_re(list(enums))
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _ENUM_FN_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            close = _find_matching_close(sql, m.end() - 1, states)
            if close == -1:
                continue
            inner = sql[m.end() : close].strip()
            sm = None
            for sm2 in suffix.finditer(inner):
                if sm2.end() == len(inner):
                    sm = sm2
            if sm is None:
                continue
            values = enums[sm.group(2).lower()]
            kind = m.group(1).lower()
            if kind == "range":
                repl = (
                    "array("
                    + ", ".join(
                        "'" + v.replace("'", "''") + "'" for v in values
                    )
                    + ")"
                )
            else:
                v = values[0] if kind == "first" else values[-1]
                repl = "'" + v.replace("'", "''") + "'"
            hit = (m.start(), close, repl)
            break
        if hit is None:
            return sql
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e + 1 :]


def _expand_enum_casts(sql: str, enums: dict[str, list[str]]) -> str:
    """``expr::name`` and ``CAST(expr AS name)`` → membership guard."""
    suffix = _cast_suffix_re(list(enums))
    # CAST(expr AS name) first — the :: scan below would not see it.
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _CAST_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            close = _find_matching_close(sql, m.end() - 1, states)
            if close == -1:
                continue
            inner = sql[m.end() : close]
            am = None
            for am2 in re.finditer(r"\sAS\s", inner, re.IGNORECASE):
                if _scan_states(inner)[am2.start()] == 0:
                    am = am2
            if am is None:
                continue
            tname = inner[am.end() :].strip()
            key = _norm(tname)
            if not re.fullmatch(_QNAME, tname) or key not in enums:
                continue
            expr = inner[: am.start()].strip()
            hit = (m.start(), close, _guard(expr, key, enums[key]))
            break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e + 1 :]
    while True:
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in suffix.finditer(sql)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        k = m.start() - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        lstart = _pull_primary_left(sql, states, k) if k >= 0 else 0
        expr = sql[lstart : m.start()].strip()
        key = m.group(2).lower()
        repl = _guard(expr, key, enums[key])
        sql = sql[:lstart] + repl + sql[m.end() :]


def _map_create_table(sql: str, spark, data: dict[str, Any]) -> str:
    """Enum-typed column defs → STRING, recording the mapping."""
    m = _CREATE_TABLE_RE.match(sql)
    if m is None:
        return sql
    enums = data["enums"]
    open_paren = sql.index("(", m.end() - 1)
    states = _scan_states(sql)
    close = _find_matching_close(sql, open_paren, states)
    if close == -1:
        return sql
    defs = sql[open_paren + 1 : close]
    table = _norm(m.group(1))
    mapping: dict[str, str] = {}
    alts = "|".join(re.escape(n) for n in enums)
    typ_re = re.compile(
        rf'^\s*("[^"]+"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+'
        rf'(?:"[^"]+"\s*\.\s*)?("?)({alts})\2(\b|$)',
        re.IGNORECASE,
    )
    out_parts: list[str] = []
    changed = False
    commas = _depth0_commas(defs, _scan_states(defs), 0, len(defs))
    bounds = [-1, *commas, len(defs)]
    for a, b in zip(bounds, bounds[1:]):
        p = defs[a + 1 : b]
        tm = typ_re.match(p)
        if tm and tm.group(3).lower() in enums:
            col = tm.group(1).strip('"').strip("`").lower()
            mapping[col] = tm.group(3).lower()
            p = p[: tm.start(2) if tm.group(2) else tm.start(3)] + (
                "STRING" + p[tm.end(4) if tm.group(2) else tm.end(3) :]
            )
            changed = True
        out_parts.append(p)
    if not changed:
        return sql
    data["table_cols"].setdefault(table, {}).update(mapping)
    _save(spark, data)
    return sql[: open_paren + 1] + ",".join(out_parts) + sql[close:]


def expand_enum_surface(spark, sql: str) -> str:
    """One pre-rewrite hook covering every enum read/write surface."""
    data = _load(spark)
    enums = data["enums"]
    if not enums:
        return sql
    sql = _expand_enum_functions(sql, enums)
    sql = _map_create_table(sql, spark, data)
    m = _INSERT_RE.match(sql)
    if m is not None:
        table = _norm(m.group(1))
        colmap = data["table_cols"].get(table, {})
        g2 = m.group(2)
        if g2 is not None and re.match(
            r"\(\s*(?:SELECT|VALUES|FROM|WITH|TABLE)\b", g2, re.IGNORECASE
        ):
            # `INSERT INTO t (SELECT …)` — a parenthesized SOURCE
            # QUERY, not a column list (r12 ADVICE: the garbage
            # "names" matched no enum column and the guard was
            # silently skipped).  Re-anchor rest at the '(' so the
            # full source (which may hold nested parens past the
            # regex's [^)]* span) is guarded positionally.
            g2 = None
            head_end = m.start(2)
            rest = sql[head_end:].strip().rstrip(";")
        else:
            head_end = m.end()
            rest = sql[head_end:].strip().rstrip(";")
        by_name = re.match(r"BY\s+NAME\b", rest, re.IGNORECASE)
        if colmap and by_name:
            # BY NAME maps source columns to table columns by NAME
            # (r12 ADVICE: previously unguarded).  Analyze the source
            # to learn its column names; keep them as aliases so the
            # name mapping survives the guard projection.  Analysis
            # failure (dialect source) falls back to unguarded —
            # exactly the pre-fix behavior.
            src = rest[by_name.end() :].strip()
            try:
                fields = spark.sql(src).schema.fields
            except Exception:
                fields = []
            sel = []
            hit = False
            for f in fields:
                q = "`" + f.name.replace("`", "``") + "`"
                enum = colmap.get(f.name.lower())
                if enum and enum in enums:
                    sel.append(_guard(q, enum, enums[enum]) + f" AS {q}")
                    hit = True
                else:
                    sel.append(q)
            if hit:
                sql = (
                    sql[:head_end]
                    + "BY NAME SELECT "
                    + ", ".join(sel)
                    + f" FROM ({src}) AS __enumins"
                )
        elif colmap:
            if g2:
                names = [
                    c.strip().strip('"').strip("`").lower()
                    for c in g2[1:-1].split(",")
                ]
            else:
                try:
                    names = [
                        f.name.lower()
                        for f in spark.table(m.group(1)).schema.fields
                    ]
                except Exception:
                    names = []
            if names and any(n in colmap for n in names):
                gen = [f"__e{i}" for i in range(len(names))]
                sel = []
                for i, n in enumerate(names):
                    enum = colmap.get(n)
                    if enum and enum in enums:
                        sel.append(
                            _guard(gen[i], enum, enums[enum])
                            + f" AS {gen[i]}"
                        )
                    else:
                        sel.append(gen[i])
                head = sql[:head_end]
                sql = (
                    head
                    + "SELECT "
                    + ", ".join(sel)
                    + f" FROM ({rest}) AS __enumins("
                    + ", ".join(gen)
                    + ")"
                )
    sql = _expand_enum_casts(sql, enums)
    return sql
