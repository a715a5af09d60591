"""SQL text tooling: the one scanner for what is quoted and what nests
in DuckDB text (every text pass in the package asks it), comment
stripping, statement splitting, escaping, and the read-only statement
gate.

Semantics mirror the reference implementation (behavior parity, new code):
  - strip comments:   /root/reference/server/util/util.go:39-94
  - split statements: /root/reference/server/util/util.go:97-165
  - escaping:         /root/reference/server/util/util.go:21-37
  - statement gate:   /root/reference/server/core/sql_validation.go:93-275

All functions are pure Python (no Spark dependency) so they can run on the
driver for any number of dashboards without touching the cluster.
"""

from __future__ import annotations

import re
from itertools import accumulate

__all__ = [
    "strip_sql_comments",
    "split_sql_queries",
    "escape_sql_string",
    "escape_sql_identifier",
    "is_allowed_statement",
    "is_allowed_task_statement",
    "is_side_effect",
    "SqlSplitError",
]


class SqlSplitError(ValueError):
    """Raised when a SQL script has unbalanced quotes."""


def escape_sql_string(value: str) -> str:
    """Escape a string for embedding in a single-quoted SQL literal."""
    out = value.replace("'", "''")
    out = out.replace("\x00", "")
    out = out.replace("\n", " ").replace("\r", " ")
    out = out.replace("\x1a", "")
    return out


def escape_sql_identifier(value: str) -> str:
    """Escape a string for embedding in a double-quoted SQL identifier."""
    out = value.replace('"', '""')
    out = out.replace("\x00", "")
    out = out.replace("\n", " ").replace("\r", " ")
    out = out.replace("\x1a", "")
    return out


# ---------------------------------------------------------------------------
# Quoting and nesting: the one scanner every SQL text pass uses
# ---------------------------------------------------------------------------

# A quoted span: a string literal, a double-quoted or a backquoted
# identifier. A doubled quote char inside is an escaped one; an
# unclosed span runs to the end of the text.
_SPAN = r"'[^']*(?:''[^']*)*'?|\"[^\"]*(?:\"\"[^\"]*)*\"?|`[^`]*(?:``[^`]*)*`?"
_QUOTED_SPAN_RE = re.compile(_SPAN)
_QUOTE_STATE = {"'": 1, '"': 2, "`": 3}
_QUOTE_NAMES = {"'": "single quote", '"': "double quote", "`": "backquote"}
_COMMENT_SCAN_RE = re.compile(rf"(?P<q>{_SPAN})|--[^\n]*(?P<nl>\n?)")
_SEMICOLON_SCAN_RE = re.compile(rf"{_SPAN}|;")
_PAREN_RE = re.compile(r"[()]")
_PAIR_RE = {"(": _PAREN_RE, "[": re.compile(r"[\[\]]")}
_BRACKET_RE = re.compile(r"[()\[\]{},]")


def _scan_states(sql: str) -> list[int]:
    """Per-character state: 0 = code, 1 = in single quote, 2 = in
    double quote, 3 = in backquotes (the quote chars included)."""
    states = [0] * len(sql)
    for m in _QUOTED_SPAN_RE.finditer(sql):
        start, end = m.span()
        states[start:end] = [_QUOTE_STATE[sql[start]]] * (end - start)
    return states


def _span_start(states: list[int], pos: int) -> int:
    """Index of the opening quote of the quoted span holding ``pos``
    (two spans of one kind never touch: ``'a''b'`` is one span)."""
    while pos > 0 and states[pos - 1] == states[pos]:
        pos -= 1
    return pos


def _span_end(states: list[int], pos: int) -> int:
    """End (exclusive) of the quoted span holding ``pos``."""
    n = len(states)
    while pos + 1 < n and states[pos + 1] == states[pos]:
        pos += 1
    return pos + 1


def _find_matching_close(sql: str, open_pos: int, states: list[int]) -> int:
    """Index of the bracket closing the ``(`` or ``[`` at ``open_pos``,
    or -1; quoted brackets do not count."""
    opener = "[" if sql[open_pos : open_pos + 1] == "[" else "("
    depth = 0
    for m in _PAIR_RE[opener].finditer(sql, open_pos):
        i = m.start()
        if states[i]:
            continue
        depth += 1 if m.group() == opener else -1
        if depth == 0:
            return i
    return -1


def _find_matching_open(sql: str, pos: int, states: list[int]) -> int:
    """Index of the ``(`` of the innermost paren group still open at
    ``pos`` (for a ``)`` at ``pos``: its matching ``(``), or -1."""
    depth = 0
    for m in reversed(list(_PAREN_RE.finditer(sql, 0, pos))):
        i = m.start()
        if states[i]:
            continue
        if m.group() == ")":
            depth += 1
        elif depth == 0:
            return i
        else:
            depth -= 1
    return -1


def _paren_depths(sql: str, states: list[int]) -> list[int]:
    """Paren depth after each character; quoted parens do not count."""
    steps = [0] * len(sql)
    for m in _PAREN_RE.finditer(sql):
        if not states[m.start()]:
            steps[m.start()] = 1 if m.group() == "(" else -1
    return list(accumulate(steps))


def _code_matches(sql: str, pattern: re.Pattern[str]) -> list[re.Match[str]]:
    """Matches of ``pattern`` that start outside quoted spans."""
    matches = list(pattern.finditer(sql))
    if not matches:
        return []
    states = _scan_states(sql)
    return [m for m in matches if not states[m.start()]]


def _depth0_matches(
    sql: str, pattern: re.Pattern[str]
) -> list[re.Match[str]]:
    """Matches of ``pattern`` that start outside quotes and parens."""
    matches = list(pattern.finditer(sql))
    if not matches:
        return []
    states = _scan_states(sql)
    depths = _paren_depths(sql, states)
    return [m for m in matches if not states[m.start()] and not depths[m.start()]]


def _depth0_commas(sql: str, states: list[int], lo: int, hi: int) -> list[int]:
    """Positions of the commas in ``sql[lo:hi]`` outside quotes and
    outside any bracket opened in that range."""
    commas: list[int] = []
    depth = 0
    for m in _BRACKET_RE.finditer(sql, lo, hi):
        i = m.start()
        if states[i]:
            continue
        c = m.group()
        if c in "([{":
            # '{' counts too: DuckDB struct/map literals carry commas
            # at brace depth (unnest({'a':1,...}, recursive))
            depth += 1
        elif c != ",":
            depth -= 1
        elif depth == 0:
            commas.append(i)
    return commas


def _split_top_level_args(arglist: str) -> list[str]:
    """The non-empty, stripped top-level comma pieces of ``arglist``."""
    states = _scan_states(arglist)
    bounds = [-1, *_depth0_commas(arglist, states, 0, len(arglist)), len(arglist)]
    args = (arglist[a + 1 : b].strip() for a, b in zip(bounds, bounds[1:]))
    return [a for a in args if a]


def _sub_in_code(pattern: re.Pattern[str], repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` for the matches that start outside
    quoted spans; ``repl`` is a template string or a function."""
    if pattern.search(sql) is None:
        return sql
    states = _scan_states(sql)
    fill = repl if callable(repl) else (lambda m: m.expand(repl))
    return pattern.sub(
        lambda m: m.group() if states[m.start()] else fill(m), sql
    )


def strip_sql_comments(sql: str) -> str:
    """Remove ``--`` line comments outside quoted spans.

    The newline ending a comment is kept so statement line numbers stay
    stable.
    """
    if "--" not in sql:
        return sql
    return _COMMENT_SCAN_RE.sub(lambda m: m.group("q") or m.group("nl"), sql)


def split_sql_queries(sql: str) -> list[str]:
    """Split a script on ``;`` outside quoted spans; raise on an
    unclosed quote.

    Each returned statement is stripped of surrounding whitespace and its
    trailing semicolon; empty statements are dropped.
    """
    queries: list[str] = []
    last = 0
    for m in _SEMICOLON_SCAN_RE.finditer(sql):
        span = m.group()
        if span == ";":
            queries.append(sql[last : m.start()].strip())
            last = m.end()
        elif span.count(span[0]) % 2:  # no closing quote
            line = sql.count("\n", 0, m.start()) + 1
            raise SqlSplitError(
                f"unclosed {_QUOTE_NAMES[span[0]]} starting in line {line}"
            )
    queries.append(sql[last:].strip())
    return [q for q in queries if q]


# ---------------------------------------------------------------------------
# Statement gate
# ---------------------------------------------------------------------------

# Statements executed only for their side effects (hidden from dashboard
# output). Matched as whole-word prefixes, case-insensitive.
SIDE_EFFECT_STATEMENTS: list[list[str]] = [
    ["USE"],
    ["SET", "VARIABLE"],
    ["BEGIN"],
    ["COMMIT"],
    ["ROLLBACK"],
    ["ABORT"],
    ["CALL"],
    ["RESET", "VARIABLE"],
    # DuckDB secret store (engine-level credentials; secrets.py maps
    # them to Hadoop/s3a confs)
    ["CREATE", "SECRET"],
    ["CREATE", "OR", "REPLACE", "SECRET"],
    ["CREATE", "PERSISTENT", "SECRET"],
    ["CREATE", "TEMPORARY", "SECRET"],
    ["CREATE", "TEMP", "SECRET"],
    ["DROP", "SECRET"],
    ["DROP", "PERSISTENT", "SECRET"],
    ["DROP", "TEMPORARY", "SECRET"],
    ["DROP", "TEMP", "SECRET"],
]
# CREATE TEMP/TEMPORARY TABLE/VIEW/MACRO/FUNCTION with optional OR REPLACE /
# IF NOT EXISTS combinations.
for _temp in ("TEMPORARY", "TEMP"):
    for _obj in ("TABLE", "VIEW"):
        SIDE_EFFECT_STATEMENTS.append(["CREATE", _temp, _obj])
        SIDE_EFFECT_STATEMENTS.append(["CREATE", "OR", "REPLACE", _temp, _obj])
    for _obj in ("MACRO", "FUNCTION"):
        SIDE_EFFECT_STATEMENTS.append(["CREATE", _temp, _obj])
        SIDE_EFFECT_STATEMENTS.append(
            ["CREATE", _temp, _obj, "IF", "NOT", "EXISTS"]
        )
        SIDE_EFFECT_STATEMENTS.append(["CREATE", "OR", "REPLACE", _temp, _obj])

ALLOWED_READ_STATEMENTS: list[list[str]] = [
    ["SELECT"],
    ["FROM"],
    ["VALUES"],
    ["SUMMARIZE"],
    ["DESC"],
    ["DESCRIBE"],
    ["SHOW", "TABLES"],
    ["SHOW", "ALL", "TABLES"],
    ["PIVOT"],
    ["UNPIVOT"],
    ["EXPLAIN"],
]

DISALLOWED_TASK_STATEMENTS: list[list[str]] = [["PRAGMA"]]

_WORD_BOUNDARY = (" ", "\t", "\n", "\r", "\x0b", "\x0c", "(", ";", ",")


def _matches_prefix(upper_sql: str, prefix: list[str]) -> bool:
    sub = upper_sql
    for word in prefix:
        if not sub.startswith(word):
            return False
        after = sub[len(word):]
        if after and not (after[0] in _WORD_BOUNDARY or after[0].isspace()):
            return False
        sub = after.strip()
    return True


def is_side_effect(sql: str, *, memory_mode: bool = False) -> bool:
    upper = sql.strip().upper()
    if memory_mode and upper.startswith("ATTACH"):
        return True
    return any(_matches_prefix(upper, s) for s in SIDE_EFFECT_STATEMENTS)


_IDENT_RE = re.compile(r'[A-Za-z_][A-Za-z0-9_$]*|"(?:[^"]|"")+"')


def _skip_identifier(sql: str, pos: int) -> int:
    m = _IDENT_RE.match(sql, pos)
    if not m:
        raise SqlSplitError(f"expected identifier at position {pos}")
    return m.end()


def split_with_statement(sql: str) -> tuple[str, list[str]]:
    """Split ``WITH [RECURSIVE] name [cols] AS (...), ... <main>`` into
    (main_query, [cte_bodies])."""
    upper = sql.upper()
    if not upper.startswith("WITH"):
        raise SqlSplitError("not a WITH statement")
    pos = 4
    rest_upper = upper[pos:].lstrip()
    if rest_upper.startswith("RECURSIVE"):
        pos = upper.index("RECURSIVE", pos) + len("RECURSIVE")

    ctes: list[str] = []
    n = len(sql)
    states = _scan_states(sql)
    while True:
        while pos < n and sql[pos].isspace():
            pos += 1
        if pos >= n:
            raise SqlSplitError("unexpected end of WITH statement")
        pos = _skip_identifier(sql, pos)
        while pos < n and sql[pos].isspace():
            pos += 1
        if pos < n and sql[pos] == "(":
            pos = _find_matching_close(sql, pos, states) + 1
            if pos == 0:
                raise SqlSplitError("unbalanced parentheses")
        while pos < n and sql[pos].isspace():
            pos += 1
        if not sql[pos:].upper().startswith("AS"):
            raise SqlSplitError("missing AS in WITH clause")
        pos += 2
        # Optional MATERIALIZED / NOT MATERIALIZED hint.
        while pos < n and sql[pos].isspace():
            pos += 1
        for hint in ("NOT MATERIALIZED", "MATERIALIZED"):
            if sql[pos:].upper().startswith(hint):
                pos += len(hint)
                while pos < n and sql[pos].isspace():
                    pos += 1
                break
        if pos >= n or sql[pos] != "(":
            raise SqlSplitError("missing ( after AS in WITH clause")
        end = _find_matching_close(sql, pos, states)
        if end == -1:
            raise SqlSplitError("unbalanced parentheses")
        ctes.append(sql[pos + 1 : end])
        pos = end + 1
        while pos < n and sql[pos].isspace():
            pos += 1
        if pos >= n:
            raise SqlSplitError("unexpected end after CTE")
        if sql[pos] == ",":
            pos += 1
            continue
        return sql[pos:], ctes


def _split_parenthesized(sql: str) -> tuple[str, str]:
    sql = sql.strip()
    if not sql.startswith("("):
        raise SqlSplitError("not a parenthesized statement")
    end = _find_matching_close(sql, 0, _scan_states(sql))
    if end == -1:
        raise SqlSplitError("unbalanced parentheses")
    return sql[1:end], sql[end + 1 :]


def _check_compound(sql: str, check) -> bool | None:
    """Shared WITH / parenthesized / set-op recursion for both gates.

    Returns True/False when this layer decides, or None when the caller
    should apply its own leaf rules.
    """
    sql = sql.strip()
    if sql == "":
        return True
    upper = sql.upper()

    if upper.startswith("WITH"):
        try:
            remaining, ctes = split_with_statement(sql)
        except SqlSplitError:
            return False
        return all(check(c) for c in ctes) and check(remaining)

    if upper.startswith("("):
        try:
            inner, remaining = _split_parenthesized(sql)
        except SqlSplitError:
            return False
        if not check(inner):
            return False
        remaining = remaining.strip()
        if remaining == "":
            return True
        rem_upper = remaining.upper()
        for op in ("UNION", "INTERSECT", "EXCEPT"):
            if rem_upper.startswith(op):
                rest = remaining[len(op):].strip()
                rest_upper = rest.upper()
                if rest_upper.startswith("ALL"):
                    rest = rest[3:].strip()
                elif rest_upper.startswith("DISTINCT"):
                    rest = rest[len("DISTINCT"):].strip()
                return check(rest)
        if rem_upper.startswith(("ORDER", "LIMIT", "OFFSET", "FETCH")):
            return True
        return False

    return None


def is_allowed_statement(sql: str, *, memory_mode: bool = False) -> bool:
    """Read-only allowlist used for dashboard statements."""

    def check(s: str) -> bool:
        return is_allowed_statement(s, memory_mode=memory_mode)

    decided = _check_compound(sql, check)
    if decided is not None:
        return decided

    sql = sql.strip()
    upper = sql.upper()
    if is_side_effect(sql, memory_mode=memory_mode):
        return True
    for stmt in ALLOWED_READ_STATEMENTS:
        if _matches_prefix(upper, stmt):
            if stmt[0] == "EXPLAIN":
                rest = sql[len("EXPLAIN"):].strip()
                if rest == "":
                    return True
                if rest.upper().startswith("ANALYZE"):
                    rest = rest[len("ANALYZE"):].strip()
                if rest == "":
                    return True
                return check(rest)
            return True
    return False


def is_allowed_task_statement(sql: str) -> bool:
    """Deny-list gate for task statements (full DDL/DML allowed)."""
    decided = _check_compound(sql, is_allowed_task_statement)
    if decided is not None:
        return decided

    sql = sql.strip()
    upper = sql.upper()
    for stmt in DISALLOWED_TASK_STATEMENTS:
        if _matches_prefix(upper, stmt):
            return False
    if upper.startswith(("INSTALL", "LOAD", "ATTACH", "DETACH")):
        return True
    if _matches_prefix(upper, ["CREATE", "SECRET"]):
        return True
    if upper.startswith("SET"):
        return _matches_prefix(upper, ["SET", "VARIABLE"])
    if upper.startswith("RESET"):
        return _matches_prefix(upper, ["RESET", "VARIABLE"])
    return True
