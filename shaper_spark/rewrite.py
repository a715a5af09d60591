"""DuckDB-dialect → Spark SQL rewriter.

The reference sends dashboard SQL verbatim to DuckDB (reference:
server/core/get_dashboard.go:2213-2220); :func:`rewrite_statement` turns
one such statement into Spark SQL plus the render tags its custom-type
casts carried. Every step is a string-level, quote-aware rewrite: we
control the only SQL entry points, Catalyst does the actual planning.

Pass order (each pass sees the output of the ones before it):

  1. FROM-first queries → SELECT (the statement and every ``(FROM …)``
     body); ``expr::CUSTOMTYPE`` / ``CAST(expr AS CUSTOMTYPE)`` casts
     → select-item tags (reference: server/core/custom_types.go:22-83).
  2. Literal and subscript syntax: ``count()``, ``query_table``, list
     comprehensions, ``{…}`` struct/MAP literals, ``[…]`` lists,
     ``x[i]`` / ``x[a:b]``, integer-cast rounding.
  3. Operators and clauses: quantified comparisons, ``IN (VALUES …)``,
     ``^ ** // % ~ -> ->>``, ``DISTINCT ON``, ``USING SAMPLE``,
     ``* REPLACE``, ``SIMILAR TO``, FILTER / window EXCLUDE, ``= ANY``,
     inline aggregate ``ORDER BY``, ``FETCH``, FROM-position
     ``range``/``generate_series``, ``* EXCLUDE``, unordered rank
     windows, 1-based lambda indexes.
  4. Calls: :func:`_rewrite_calls` rewrites every call of a name in
     ``_CALL_FIXERS`` (one row per DuckDB call form; aliases share a
     row). Each call is visited once, after its arguments, and its
     fixer gets the rewritten argument texts; the fixer's output is not
     walked again — a fixer whose output needs another row calls that
     row's fixer itself.
  5. ASOF JOIN → LATERAL top-1, QUALIFY → subquery filter, the
     ``_FN_RENAMES`` name-for-name renames, decimal literals in ``*``
     and ``/``, ``NULLS LAST`` defaults, strftime codes, ``::BIT``,
     type names, LIKE and string-literal backslashes.

``getvariable('k')`` is inlined as a literal before any of this by
:func:`substitute_variables` (reference: server/core/app.go:574-595).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

from .custom_types import CUSTOM_TYPE_NAMES
from .sqltool import (
    SqlSplitError,
    _depth0_commas,
    _depth0_matches,
    _find_matching_close,
    _find_matching_open,
    _scan_states,
    _span_end,
    _span_start,
    _split_top_level_args,
    _sub_in_code,
    escape_sql_string,
    split_with_statement,
)

__all__ = [
    "lower_from_first", "rewrite_statement", "RewriteResult", "substitute_variables"
]


@dataclass
class RewriteResult:
    sql: str
    # select-item index (0-based) → custom type tag (upper-case name).
    column_tags: dict[int, str] = field(default_factory=dict)
    # tags found outside a recognizable outer select item (order preserved).
    loose_tags: list[str] = field(default_factory=list)
    # (left, right) table/CTE names of each ASOF JOIN the compatibility
    # rewrite turned into a LATERAL top-1 subquery — the engine's
    # quadratic-plan guard probes their cardinalities before executing
    # (see engine._asof_quadratic_guard and operators/asof.py).
    asof_joins: list[tuple[str, str]] = field(default_factory=list)


_IDENT_CHARS = re.compile(r"[A-Za-z0-9_$]")


# ---------------------------------------------------------------------------
# Custom-type cast extraction
# ---------------------------------------------------------------------------

_COLONCOLON_RE = re.compile(r"::\s*([A-Za-z_][A-Za-z0-9_]*)")
_CAST_RE = re.compile(r"\b(TRY_CAST|CAST)\s*\(", re.IGNORECASE)
_CAST_AS_RE = re.compile(r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", re.IGNORECASE)


def _extract_custom_casts(sql: str) -> tuple[str, list[int]]:
    """Remove custom-type casts; return (clean_sql, tag_positions) where
    tag_positions[i] is (char offset in clean sql, type name)."""
    tags: list[tuple[int, str]] = []
    # Iterate until no more custom casts (offsets shift after each removal).
    changed = True
    while changed:
        changed = False
        states = _scan_states(sql)
        for m in _COLONCOLON_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            name = m.group(1).upper()
            if name not in CUSTOM_TYPE_NAMES:
                continue
            # drop the '::TYPE' text, keep the operand
            sql = sql[: m.start()] + sql[m.end():]
            tags.append((m.start(), name))
            changed = True
            break
        if changed:
            continue
        for m in _CAST_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            open_pos = m.end() - 1
            close_pos = _find_matching_close(sql, open_pos, states)
            if close_pos < 0:
                continue
            inner = sql[open_pos + 1 : close_pos]
            am = _CAST_AS_RE.search(inner)
            if not am:
                continue
            name = am.group(1).upper()
            if name not in CUSTOM_TYPE_NAMES:
                continue
            operand = inner[: am.start()]
            sql = sql[: m.start()] + "(" + operand + ")" + sql[close_pos + 1 :]
            tags.append((m.start(), name))
            changed = True
            break
    return sql, tags


def _outer_select_item_spans(sql: str) -> list[tuple[int, int]] | None:
    """Spans (start, end) of the outermost SELECT-list items, or None."""
    stripped = sql.lstrip()
    offset = len(sql) - len(stripped)
    upper = stripped.upper()
    if upper.startswith("WITH"):
        try:
            remaining, _ = split_with_statement(stripped)
        except SqlSplitError:
            return None
        inner = _outer_select_item_spans(remaining)
        if inner is None:
            return None
        delta = offset + (len(stripped) - len(remaining))
        return [(s + delta, e + delta) for s, e in inner]
    if not upper.startswith("SELECT"):
        return None
    pos = len("SELECT")
    rest = upper[pos:]
    for mod in ("DISTINCT", "ALL"):
        r = rest.lstrip()
        if r.startswith(mod) and (len(r) == len(mod) or not _IDENT_CHARS.match(r[len(mod)])):
            pos += (len(rest) - len(r)) + len(mod)
            break
    states = _scan_states(stripped)
    spans: list[tuple[int, int]] = []
    start = pos
    depth = 0
    i = pos
    n = len(stripped)
    kw = re.compile(r"\b(FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|WINDOW|QUALIFY|UNION|INTERSECT|EXCEPT)\b")
    while i < n:
        if states[i] != 0:
            i += 1
            continue
        c = stripped[i]
        if c in "([":  # brackets nest too: [0.0, 0.5]::RANGE is one item
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            if c == ",":
                spans.append((start + offset, i + offset))
                start = i + 1
                i += 1
                continue
            m = kw.match(upper, i)
            if m and (i == 0 or not _IDENT_CHARS.match(stripped[i - 1])):
                spans.append((start + offset, i + offset))
                return spans
        i += 1
    spans.append((start + offset, n + offset))
    return spans


# ---------------------------------------------------------------------------
# Function-level rewrites
# ---------------------------------------------------------------------------

# A pass that writes a Spark call whose name is also a DuckDB name in
# _CALL_FIXERS writes it ``name /*as-is*/(…)`` so the call walk leaves
# it; _rewrite_calls drops the marker.
_AS_IS = " /*as-is*/"

# DuckDB → Spark function renames (whole-word, code regions only).
_FN_RENAMES = {
    "quantile_cont": "percentile",
    "quantile_disc": "percentile_approx",
    "quantile": "percentile_approx",  # DuckDB: quantile == quantile_disc
    "list_max": "array_max",
    "list_min": "array_min",
    # NB: DuckDB's element order is unspecified (hash-based); Spark's
    # is first-occurrence. Set-equal, order may differ.
    "list_distinct": "array_distinct",
    "list_transform": "transform",
    "list_filter": "filter",
    "list_sort": "array_sort",
    "list_append": "array_append",
    # list_concat/array_concat/array_cat: fixers (emit /*ARR*/-marked
    # Spark array concat so the varchar concat NULL-skip pass skips them)
    "list_value": "array",
    # batch-26 alias audit (duckdb_functions() diff)
    "array_value": "array",
    # arbitrary keeps NULLs (first value in arrival order), unlike
    # the NULL-skipping any_value
    "arbitrary": "first",
    "array_transform": "transform",
    "array_apply": "transform",
    "list_apply": "transform",
    "apply": "transform",
    "array_filter": "filter",
    "array_indexof": "array_position",
    "argmax": "max_by",
    "argmin": "min_by",
    "from_base64": "unbase64",
    "to_base64": "base64",
    "from_hex": "unhex",
    "error": "raise_error",
    "make_timestamptz": "make_timestamp",
    "current_localtimestamp": "localtimestamp",
    "get_current_timestamp": "current_timestamp",
    "transaction_timestamp": "current_timestamp",
    "row_to_json": "to_json",
    "array_to_json": "to_json",
    # OOB index → NULL like DuckDB (element_at raises; r11 batch-22)
    "list_extract": "try_element_at",
    "array_extract": "try_element_at",
    # list_contains/list_has: fixer (NULL-handling parity, batch-22)
    "list_intersect": "array_intersect",
    "list_has_any": "arrays_overlap",
    "array_has_any": "arrays_overlap",
    "strpos": "instr",
    "week": "weekofyear",
    "datetrunc": "date_trunc",
    "strlen": "octet_length",
    "ord": "ascii",
    "unicode": "ascii",
    "approx_quantile": "percentile_approx",
    "row": "struct",
    "epoch_us": "unix_micros",
    "to_hex": "hex",
    "list_element": "try_element_at",
    # favg/fsum: fixers (DOUBLE result like DuckDB's Kahan forms)
    "json_keys": "json_object_keys",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "prefix": "startswith",
    "suffix": "endswith",
    "gen_random_uuid": "uuid",
    "list_zip": "arrays_zip",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "list_reverse": "reverse",
    "list_prepend": "array_prepend",
    "array_reverse": "reverse",
    "json_extract": "json_extract_json",
    "json_extract_string": "json_extract_text",
    "json_extract_path": "json_extract_json",
    "json_extract_path_text": "json_extract_text",
    # "len" is handled by _fix_len (polymorphic: size() for
    # syntactically-array args, length() otherwise — r11 batch-18)
    "strftime": "date_format",  # format codes converted below
    "epoch_ms": "unix_millis",
    # "epoch" is NOT a rename: unix_timestamp truncates to whole
    # seconds where DuckDB's epoch() keeps the fraction (r12 temporal
    # fuzz find) — it lowers via _fix_epoch_fn instead.
    "today": "current_date",
    "datepart": "date_part",
    "array_to_string": "array_join",
    "regexp_matches": "rlike",
    "arg_max": "max_by",
    "arg_min": "min_by",
    # editdist3 is DuckDB's Levenshtein alias; substring_grapheme
    # counts grapheme clusters — identical on precomposed text, a
    # documented divergence for combining sequences (r11 batch-16)
    "editdist3": "levenshtein",
    "substring_grapheme": "substring",
    # r11 batch-18 aliases
    "array_zip": "arrays_zip",
    "list_pack": "array",
    # r11 batch-21 aliases (grapheme forms: cluster==char for
    # precomposed text, documented like substring_grapheme)
    "right_grapheme": "right",
    "left_grapheme": "left",
    "least_common_multiple": "lcm",
    "greatest_common_divisor": "gcd",
    "list": "collect_list",
    "group_concat": "listagg",
    "string_agg": "listagg",
    "unnest": "explode",
    "printf": "format_string",
    "array_length": "size",
    "list_count": "size",
    "string_split_regex": "split",
    "str_split_regex": "split",
    "regexp_split_to_array": "split",
    # strptime(str, '%Y-…') → to_timestamp(str, 'yyyy-…'): the rename
    # is single-pass (the produced to_timestamp is not re-mapped) and
    # _convert_strftime_literals translates the %-codes afterwards.
    "strptime": "to_timestamp",
    # NULL-on-failure variant (r11); %-codes convert the same way
    "try_strptime": "try_to_timestamp",
    # scalar (list-returning) form; the FROM-position table form is
    # consumed earlier by _rewrite_series_tablefuncs. Both are
    # inclusive of the stop. Scalar range() is NOT renamed (exclusive
    # stop has no one-call Spark equivalent).
    "generate_series": "sequence",
}

# DuckDB strftime %-codes → Java datetime pattern letters (applied to
# literal format arguments of date_format after the rename).
_STRFTIME_CODES = {
    # no-pad '-' variants first (Java single letters emit min-width)
    "%-d": "d",
    "%-m": "M",
    "%-H": "H",
    "%-M": "m",
    "%-S": "s",
    "%-I": "h",
    "%-j": "D",
    # composite codes (batch-25)
    "%c": "yyyy-MM-dd HH:mm:ss",
    "%x": "yyyy-MM-dd",
    "%X": "HH:mm:ss",
    "%T": "HH:mm:ss",
    "%R": "HH:mm",
    "%Z": "",  # DuckDB prints '' for naive timestamps
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%g": "SSS",
    "%p": "a",
    "%j": "DDD",
    "%a": "EEE",
    "%A": "EEEE",
    "%b": "MMM",
    "%B": "MMMM",
    "%%": "%",
}

_DATE_FORMAT_CALL_RE = re.compile(
    r"\b(date_format|to_timestamp|try_to_timestamp)\s*\(", re.IGNORECASE
)

# parse-direction overrides: Java's padded two-letter patterns demand
# exactly that many digits when PARSING where DuckDB accepts unpadded
# ('Mar 5 2024' with %d); the single letters parse 1-2 digits and the
# strftime direction keeps the padded spellings (r12 temporal fuzz
# find; %j was the batch-25 original).
_STRPTIME_OVERRIDES = {
    "%j": "D",
    "%d": "d",
    "%m": "M",
    "%H": "H",
    "%I": "h",
    "%M": "m",
    "%S": "s",
}
# day-of-week codes are unparseable in Spark (EEE is format-only under
# the corrected parser) — those formats fall back to the Python
# duckdb_strptime compat UDF, which takes the %-codes verbatim.
_STRPTIME_PYFALLBACK_RE = re.compile(r"%-?[aA]")


def _convert_strftime_literals(sql: str) -> str:
    """Rewrite the %-style FORMAT-ARGUMENT literal of date_format(...)
    / to_timestamp(...) calls (parse-direction overrides applied for
    the to_timestamp forms, batch-25).  Per-argument, not per-span:
    a strftime(strptime(…)) nesting carries a parse-direction format
    INSIDE the outer format call, and the old whole-span replacement
    gave the inner literal the output-direction codes (r12 temporal
    fuzz find).  %a/%A formats reroute to the Python strptime compat
    UDF (format-only codes under Spark's corrected parser)."""
    pos = 0
    while True:
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in _DATE_FORMAT_CALL_RE.finditer(sql, pos)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        close = _find_matching_close(sql, m.end() - 1, states)
        if close == -1:
            pos = m.end()
            continue
        args = [a for a in _split_top_level_args(sql[m.end() : close])]
        fn = m.group(1).lower()
        fmt = args[1].strip() if len(args) >= 2 else ""
        if not (
            fmt.startswith("'") and fmt.endswith("'") and "%" in fmt
        ):
            pos = m.end()
            continue
        if fn != "date_format" and _STRPTIME_PYFALLBACK_RE.search(fmt):
            name = (
                "duckdb_try_strptime"
                if fn == "try_to_timestamp"
                else "duckdb_strptime"
            )
        else:
            name = m.group(1)
            if fn != "date_format":
                for code, java in _STRPTIME_OVERRIDES.items():
                    fmt = fmt.replace(code, java)
            for code, java in _STRFTIME_CODES.items():
                fmt = fmt.replace(code, java)
        newargs = [a.strip() for a in args]
        newargs[1] = fmt
        new = name + "(" + ", ".join(newargs) + ")"
        sql = sql[: m.start()] + new + sql[close + 1 :]
        # resume just past the (possibly renamed) function name so
        # calls nested inside the arguments are still visited, while
        # this call (now %-free or a UDF) is not re-matched
        pos = m.start() + len(name) + 1


# the tokens of a DuckDB (RE2) replacement string that Java spells
# differently: a \N group reference, an escaped backslash, a plain '$'
_RE2_REWRITE_TOKEN_RE = re.compile(r"\\(\d)|\\\\|\$")


def _java_replacement(r: str) -> str:
    """DuckDB's replacement literal ``r`` in Java's replacement syntax:
    ``\\N`` → ``$N``, a literal ``$`` → ``\\$``, ``\\\\`` stays. Any
    other argument is returned as it is."""
    if r[:1] != "'" or _span_end(_scan_states(r), 0) != len(r):
        return r
    return _RE2_REWRITE_TOKEN_RE.sub(
        lambda m: "$" + m.group(1) if m.group(1)
        else "\\$" if m.group() == "$" else m.group(),
        r,
    )


def _fix_regexp_replace(args: list[str]) -> str | None:
    """DuckDB ``regexp_replace`` replaces only the FIRST match unless the
    ``'g'`` flag is given; Spark always replaces all (batch-22 — silent
    wrong answers for plain 3-arg calls).

    * The replacement is DuckDB's (RE2) syntax, ``\\1`` for a group;
      Java's is ``$1``, and a bare ``$`` is an error there. A literal
      replacement is translated (:func:`_java_replacement`); any other
      replacement expression is passed on as it is, so its ``\\N``
      references and ``$`` signs keep Java's meaning.
    * 4-arg with a flags literal containing ``g`` → plain Spark
      ``regexp_replace`` (all matches); an ``i`` flag becomes a ``(?i)``
      prefix on the pattern (``c`` = case-sensitive default is dropped).
    * 3-arg (or 4-arg without ``g``) → first-match-only splice:
      replace inside the prefix of ``s`` ending at the first match's end
      (which contains exactly one match), concat the untouched tail.
      Backreferences in the replacement survive because the real
      ``regexp_replace`` still performs the substitution. After a
      non-empty match Java would also replace an empty match at the
      prefix's end (``'aaa'``, ``'a*'``); ``(?!\\z)`` keeps a match from
      starting there. The splice reads ``s`` and the pattern several
      times, so all three arguments are bound once, as the fields of a
      one-element array's struct that a lambda reads: the output is
      linear in the argument texts, and nested non-g calls grow the
      statement linearly too.
    * Unknown flag letters or a non-literal flags argument: left
      untouched (Spark's 4th arg is a position integer — a loud type
      error, not a silent divergence)."""
    if len(args) == 3:
        flags = ""
    elif len(args) == 4:
        f4 = args[3].strip()
        if not (
            f4.startswith("'")
            and f4.endswith("'")
            and set(f4[1:-1].lower()) <= set("gic")
        ):
            return None
        flags = f4[1:-1].lower()
    else:
        return None
    s, p, r = (a.strip() for a in args[:3])
    r = _java_replacement(r)
    if "i" in flags:
        p = f"concat('(?i)', {p})"
    if "g" in flags:
        return f"regexp_replace({s}, {p}, {r})"
    first = "regexp_instr(__rr.s, __rr.p)"
    n = "length(regexp_extract(__rr.s, __rr.p, 0))"
    end = f"({first} + {n})"
    once = f"IF({n} > 0, concat('(?!\\z)(?:', __rr.p, ')'), __rr.p)"
    return (
        f"element_at(transform(array(named_struct('s', {s}, 'p', {p}, "
        f"'r', {r})), __rr -> CASE WHEN {first} = 0 THEN __rr.s "
        f"ELSE concat(regexp_replace(substr(__rr.s, 1, {end} - 1), "
        f"{once}, __rr.r), substr(__rr.s, {end})) END), 1)"
    )


_COUNT_EMPTY_RE = re.compile(r"\bcount\s*\(\s*\)", re.IGNORECASE)
# DuckDB's query_table('t') TVF (used by the reference's ingest path,
# server/ingest/ingest.go:270) has no Spark equivalent for the constant-
# string case other than the table reference itself.
_QUERY_TABLE_RE = re.compile(
    r"\bquery_table\s*\(\s*'([A-Za-z_][\w.]*)'\s*\)", re.IGNORECASE
)

# DuckDB type names → Spark type names, applied to ``::TYPE`` and
# ``CAST(x AS TYPE)`` (reference type surface: get_dashboard.go:615-695).
_TYPE_RENAMES = {
    "TIMESTAMPTZ": "TIMESTAMP",  # session tz is pinned to UTC
    "TIMESTAMP_S": "TIMESTAMP",
    "TIMESTAMP_MS": "TIMESTAMP",
    "TIMESTAMP_NS": "TIMESTAMP",
    "DATETIME": "TIMESTAMP",
    "VARCHAR": "STRING",
    "TEXT": "STRING",
    "BPCHAR": "STRING",
    "JSON": "STRING",
    "BLOB": "BINARY",
    "BYTEA": "BINARY",
    "REAL": "FLOAT",
    "FLOAT4": "FLOAT",
    "FLOAT8": "DOUBLE",
    "INT1": "TINYINT",
    "INT2": "SMALLINT",
    "INT4": "INT",
    "INT8": "BIGINT",
    "SIGNED": "BIGINT",
    "UTINYINT": "SMALLINT",
    "USMALLINT": "INT",
    "UINTEGER": "BIGINT",
    "UBIGINT": "DECIMAL(20,0)",
    "HUGEINT": "DECIMAL(38,0)",
    "UHUGEINT": "DECIMAL(38,0)",
    "UUID": "STRING",
    # No TIME type in Spark (SURVEY §1.3): string keeps the value visible;
    # the wire layer serializes ms-since-midnight.
    "TIME": "STRING",
    "TIMETZ": "STRING",
}

_COLONCOLON_TYPE_RE = re.compile(
    r"(::\s*)(" + "|".join(_TYPE_RENAMES) + r")\b(?!\s*\()",
    re.IGNORECASE,
)
# Inside a CAST(... AS TYPE) span only — a bare "AS text" elsewhere is an
# alias, never a type.
_CAST_AS_TYPE_RE = re.compile(
    r"(\bAS\s+)(" + "|".join(_TYPE_RENAMES) + r")(\s*(?:\[\s*\])?\s*\))",
    re.IGNORECASE,
)
_ARRAY_SUFFIX_RE = re.compile(
    # [] list suffix, or DuckDB's fixed-size ARRAY suffix [n] — Spark
    # has no fixed-size array type, both map to ARRAY<T>
    r"(::\s*)([A-Za-z]+(?:\(\d+(?:\s*,\s*\d+)?\))?)\s*\[\s*\d*\s*\]"
)
# CAST(x AS T[]) / TRY_CAST(x AS T[n]) — the same array-type suffix in
# explicit-CAST position (r11; ANY element type, renamed when needed)
_CAST_ARRAY_TYPE_RE = re.compile(
    r"(\bAS\s+)([A-Za-z]+(?:\(\d+(?:\s*,\s*\d+)?\))?)"
    r"\s*\[\s*\d*\s*\](\s*\))",
    re.IGNORECASE,
)


_CREATE_TABLE_COLS_RE = re.compile(
    r"\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(?:`[^`]+`|[A-Za-z_][\w.]*)\s*\(",
    re.IGNORECASE,
)
_DDL_TYPE_STOPPERS = frozenset(
    "PRIMARY NOT NULL DEFAULT UNIQUE CHECK REFERENCES".split()
)


def _rename_ddl_types(sql: str) -> str:
    """Bare DuckDB type names in CREATE TABLE column lists → Spark
    names (VARCHAR→STRING, INT8→BIGINT, …): Spark's DDL accepts
    VARCHAR(n) but rejects length-less VARCHAR.  Only tokens in TYPE
    position are touched (followed by ',', ')', or a constraint
    keyword, preceded by the column identifier) so a column NAMED
    'text' stays untouched."""
    states = _scan_states(sql)
    for m in _CREATE_TABLE_COLS_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        open_pos = m.end() - 1
        close = _find_matching_close(sql, open_pos, states)
        if close == -1:
            continue
        span = sql[open_pos + 1 : close]

        def repl(tm: re.Match[str]) -> str:
            name = tm.group(0)
            new = _TYPE_RENAMES.get(name.upper())
            if new is None:
                return name
            after = span[tm.end() :].lstrip()
            nxt = after[:1]
            nxt_word = re.match(r"[A-Za-z]+", after)
            if not (
                nxt in (",", ")", "")
                or (
                    nxt_word
                    and nxt_word.group(0).upper() in _DDL_TYPE_STOPPERS
                )
            ):
                return name  # not type position (e.g. VARCHAR(10))
            before = span[: tm.start()].rstrip()
            if not before or before[-1] in (",",):
                return name  # column-name position
            return new

        new_span = re.sub(r"[A-Za-z_]\w*", repl, span)
        # informational constraints: parquet tables reject CONSTRAINT
        # clauses outright — strip the declaration (UNENFORCED, like
        # most warehouses; INSERT OR REPLACE raises a named error
        # elsewhere precisely because keys are not enforced here)
        new_span = re.sub(
            r"\s+PRIMARY\s+KEY\b|\s+UNIQUE\b",
            "",
            new_span,
            flags=re.IGNORECASE,
        )
        if new_span != span:
            sql = sql[: open_pos + 1] + new_span + sql[close:]
            states = _scan_states(sql)
    return sql


# Integer-family cast targets (DuckDB + Spark spellings).  DuckDB
# casts non-integer numerics to integers by ROUNDING (half away from
# zero for DECIMAL/VARCHAR, half-even for DOUBLE); Spark TRUNCATES —
# CAST(2.7 AS INT) is 3 vs 2, a silent wrong answer (batch-22).  A
# DECIMAL(38,0) intermediate gives Spark HALF_UP rounding with exact
# 64-bit arithmetic preserved (doubles' half-even ties documented).
# (HUGEINT is absent: its rename target DECIMAL(38,0) already rounds)
_INT_CAST_TARGETS = (
    "TINYINT|SMALLINT|INTEGER|BIGINT|SIGNED|"
    "INT1|INT2|INT4|INT8|INT|SHORT|LONG|BYTE"
)
_INT_CAST_AS_RE = re.compile(
    r"\s+AS\s+(" + _INT_CAST_TARGETS + r")\s*$", re.IGNORECASE
)
_INT_COLONCOLON_RE = re.compile(
    r"::\s*(" + _INT_CAST_TARGETS + r")\b(?!\s*[\[(])", re.IGNORECASE
)
# functions that PROVABLY produce integers (or integral doubles) for
# ANY argument types — wrapping their casts would only add per-row
# DECIMAL cost in hot paths.  Pass-through functions (coalesce/
# greatest/if/abs/…) are deliberately ABSENT: they inherit their
# arguments' types, which can be fractional (the r11 fuzzer caught
# CAST(coalesce(sqrt(…), …) AS INT) truncating); round/trunc are
# integral ONLY in their 1-arg forms (round(x, 2) keeps fraction).
_INT_SAFE_FNS = frozenset(
    "floor ceil ceiling year month day hour minute second quarter "
    "dayofweek dayofmonth dayofyear weekday weekofyear datediff "
    "date_diff length size char_length octet_length instr strpos "
    "position levenshtein unix_micros unix_millis unix_seconds "
    "unix_timestamp xxhash64 count row_number rank dense_rank ntile "
    "ascii bit_count array_position".split()
)
_ROUND_1ARG_FNS = frozenset(("round", "trunc", "bround"))


def _int_safe_operand(operand: str) -> bool:
    """True when the cast operand PROVABLY yields an integral value:
    an integer literal, or a single integral-function call spanning
    the whole (paren-stripped) operand — a call that is merely the
    head of a larger expression (``length(s) / 2``) is NOT safe
    (r11 fuzzer finding)."""
    s = operand.strip()
    while s.startswith("(") and s.endswith(")"):
        states = _scan_states(s)
        if _find_matching_close(s, 0, states) == len(s) - 1:
            s = s[1:-1].strip()
        else:
            break
    if re.fullmatch(r"-?\d+", s):
        return True
    m = re.match(r"([A-Za-z_]\w*)\s*\(", s)
    if m is None:
        return False
    states = _scan_states(s)
    close = _find_matching_close(s, s.index("(", m.end(1)), states)
    if close != len(s) - 1:
        return False
    fn = m.group(1).lower()
    if fn in _INT_SAFE_FNS:
        return True
    if fn in _ROUND_1ARG_FNS:
        return len(_split_top_level_args(s[s.index("(", m.end(1)) + 1 : close])) == 1
    return False


def _round_int_casts(sql: str) -> str:
    """Wrap integer-target casts in a rounding DECIMAL(38,0) step so
    fractional inputs round like DuckDB instead of truncating.  Casts
    whose operand head provably yields integers are left bare (exact
    and cheaper); greatest/least/if/coalesce heads are conservative
    skips — their arguments were already DuckDB-cast-shaped upstream."""
    guard = 0
    while guard < 256:
        guard += 1
        states = _scan_states(sql)
        hit = None
        for m in _CAST_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            close = _find_matching_close(sql, m.end() - 1, states)
            if close == -1:
                continue
            inner = sql[m.end() : close]
            am = _INT_CAST_AS_RE.search(inner)
            if am is None:
                continue
            operand = inner[: am.start()]
            if "/*RI*/" in operand or _int_safe_operand(operand):
                continue
            kw = m.group(1).upper()
            hit = (m.start(), close, kw, operand.strip(), am.group(1))
            break
        if hit is None:
            break
        start, close, kw, operand, target = hit
        inner_kw = "TRY_CAST" if kw == "TRY_CAST" else "CAST"
        sql = (
            sql[:start]
            + f"{kw}({inner_kw}(({operand}) /*RI*/ AS DECIMAL(38,0)) "
            + f"AS {target})"
            + sql[close + 1 :]
        )
    # '::INT' postfix form: capture the left primary (quoted literal or
    # expression) exactly like the binary-operator pass does
    guard = 0
    while guard < 256:
        guard += 1
        states = _scan_states(sql)
        hit = None
        for m in _INT_COLONCOLON_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            k = m.start() - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k < 0:
                continue
            lstart = _pull_primary_left(sql, states, k)
            operand = sql[lstart : m.start()].strip()
            if (
                not operand
                or "/*RI*/" in operand
                or _int_safe_operand(operand)
                or operand.upper() in _SQL_KEYWORD_TAIL
            ):
                continue
            hit = (lstart, m.end(), operand, m.group(1))
            break
        if hit is None:
            break
        lstart, mend, operand, target = hit
        sql = (
            sql[:lstart]
            + f"CAST(CAST(({operand}) /*RI*/ AS DECIMAL(38,0)) "
            + f"AS {target})"
            + sql[mend:]
        )
    return sql.replace(" /*RI*/", "")


_LOOSE_DATE_LIT_RE = re.compile(
    r"'(\d{4})/(\d{1,2})/(\d{1,2})'"
    r"(?=\s*::\s*(?:DATE|TIMESTAMP)\b|\s+AS\s+(?:DATE|TIMESTAMP)\b)",
    re.IGNORECASE,
)


_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_ORDER_CLAUSE_END_KWS = {
    "LIMIT", "OFFSET", "FETCH", "RANGE", "ROWS", "GROUPS", "UNION",
    "INTERSECT", "EXCEPT", "FOR", "WINDOW", "QUALIFY",
}
_NULLS_MOD_TAIL_RE = re.compile(
    r"\bNULLS\s+(?:FIRST|LAST)\s*$", re.IGNORECASE
)
_DESC_TAIL_RE = re.compile(r"\bDESC\s*$", re.IGNORECASE)
_WORD_RE = re.compile(r"[A-Za-z_][\w]*")


def _default_nulls_last(sql: str) -> str:
    """DuckDB's default null ordering is NULLS LAST for BOTH
    directions; Spark's ascending default is NULLS FIRST — silently
    different rows under LIMIT and different ranks in ordered windows
    (batch-23).  Append NULLS LAST to every ORDER BY sort item that
    carries no explicit NULLS modifier and is not DESC (descending
    defaults already agree).  Applies uniformly: statement clauses,
    window specs, WITHIN GROUP — Spark parses the modifier in all of
    them (ordinals and ORDER BY ALL included)."""
    states = _scan_states(sql)
    inserts: list[int] = []
    for m in _ORDER_BY_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        i = m.end()
        depth = 0
        item_start = i
        item_ends: list[int] = []

        def close_item(pos: int) -> None:
            item = sql[item_start:pos].strip()
            if not item:
                return
            if _NULLS_MOD_TAIL_RE.search(item) or _DESC_TAIL_RE.search(
                item
            ):
                return
            # end of the trimmed item in absolute offsets
            end = pos
            while end > item_start and sql[end - 1].isspace():
                end -= 1
            item_ends.append(end)

        while i < len(sql):
            c = sql[i]
            if states[i] != 0:
                i += 1
                continue
            if c in "([":
                depth += 1
            elif c in ")]":
                if depth == 0:
                    break  # enclosing paren: window spec / subquery end
                depth -= 1
            elif c == ";" and depth == 0:
                break
            elif c == "," and depth == 0:
                close_item(i)
                item_start = i + 1
            elif depth == 0 and (c.isalpha() or c == "_"):
                w = _WORD_RE.match(sql, i)
                if w and w.group(0).upper() in _ORDER_CLAUSE_END_KWS:
                    break
                i = w.end() if w else i + 1
                continue
            i += 1
        close_item(i)
        inserts.extend(item_ends)
    for pos in sorted(inserts, reverse=True):
        sql = sql[:pos] + " NULLS LAST" + sql[pos:]
    return sql


_LIKE_OP_WORD_RE = re.compile(r"\bI?LIKE\b", re.IGNORECASE)


def _fix_like_backslash_literal(sql: str) -> str:
    """DuckDB's LIKE has NO default escape character — a backslash in
    the pattern is a literal backslash ('50%' LIKE '50\\%' is FALSE);
    Spark defaults to backslash-escaping (TRUE) — batch-25 silent
    wrong.  Double backslashes inside LIKE/ILIKE pattern literals that
    carry no explicit ESCAPE clause, so they stay literal in Spark
    (the end-of-rewrite literal pass doubles once more for the string
    parser)."""
    states = _scan_states(sql)
    edits: list[tuple[int, int, str]] = []
    for m in _LIKE_OP_WORD_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        i = m.end()
        while i < len(sql) and sql[i].isspace():
            i += 1
        if i >= len(sql) or sql[i] != "'":
            continue
        j = i + 1
        while j < len(sql) and states[j] == 1:
            j += 1
        content = sql[i + 1 : j]
        if "\\" not in content:
            continue
        # j is already one past the closing quote — start the ESCAPE
        # lookahead there, or `LIKE '50\%'ESCAPE '\'` (no space)
        # misses its explicit escape clause.
        k = j
        while k < len(sql) and sql[k].isspace():
            k += 1
        if sql[k : k + 6].upper() == "ESCAPE":
            continue
        edits.append((i + 1, j, content.replace("\\", "\\\\")))
    for start, end, new in sorted(edits, reverse=True):
        sql = sql[:start] + new + sql[end:]
    return sql


def _normalize_loose_date_literals(sql: str) -> str:
    """DuckDB's DATE parser accepts '/' separators ('2024/01/02');
    Spark's is strict — normalize slash-dated literals that are being
    cast to DATE/TIMESTAMP (literal forms only; batch-22)."""
    states = _scan_states(sql)
    return _LOOSE_DATE_LIT_RE.sub(
        lambda m: m.group(0)
        if states[m.start()] not in (0, 1)
        else "'%s-%02d-%02d'"
        % (m.group(1), int(m.group(2)), int(m.group(3))),
        sql,
    )


def _rename_types(sql: str) -> str:
    sql = _sub_in_code(
        _COLONCOLON_TYPE_RE,
        lambda m: m.group(1) + _TYPE_RENAMES[m.group(2).upper()],
        sql,
    )

    # CAST(expr AS TYPE) / TRY_CAST: rename only within the cast's span.
    out = []
    last = 0
    states = _scan_states(sql)
    for m in _CAST_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        open_pos = m.end() - 1
        close = _find_matching_close(sql, open_pos, states)
        if close == -1 or close < last:
            continue
        span = sql[m.start() : close + 1]
        span = _CAST_ARRAY_TYPE_RE.sub(
            lambda mm: mm.group(1)
            + "ARRAY<"
            + _TYPE_RENAMES.get(mm.group(2).upper(), mm.group(2))
            + ">"
            + mm.group(3),
            span,
        )
        renamed = _CAST_AS_TYPE_RE.sub(
            lambda mm: mm.group(1)
            + _TYPE_RENAMES[mm.group(2).upper()]
            + mm.group(3),
            span,
        )
        out.append(sql[last : m.start()])
        out.append(renamed)
        last = close + 1
    out.append(sql[last:])
    sql = "".join(out)

    # DuckDB array-type suffix: ::STRING[] → ::ARRAY<STRING>
    return _sub_in_code(_ARRAY_SUFFIX_RE, r"\1ARRAY<\2>", sql)

# Keywords after which a '[' must be a list literal, not array indexing.
_PRE_LITERAL_KEYWORDS = frozenset(
    "SELECT FROM WHERE AND OR NOT IN WHEN THEN ELSE END AS ON BY HAVING "
    "LIMIT OFFSET UNION ALL DISTINCT CASE RETURN VALUES SET ARRAY THEN "
    "BETWEEN LIKE ILIKE IS EXCEPT INTERSECT".split()
)


def _rewrite_bracket_literals(sql: str) -> str:
    """DuckDB list literals ``[a, b, c]`` → Spark ``array(a, b, c)``.

    A ``[`` directly following an identifier or ``)``/``]`` is array
    indexing and is left alone; anything else opens a literal."""
    states = _scan_states(sql)
    out: list[str] = []
    # Stack entries: True if the matching ']' belongs to a literal.
    stack: list[bool] = []
    for i, c in enumerate(sql):
        if states[i] != 0:
            out.append(c)
            continue
        if c == "[":
            j = i - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            is_literal = True
            if j >= 0:
                prev = sql[j]
                if prev in (")", "]") or (prev in '"`' and states[j] != 0):
                    is_literal = False
                elif _IDENT_CHARS.match(prev):
                    # Take the whole previous word; keywords → literal.
                    k = j
                    while k >= 0 and _IDENT_CHARS.match(sql[k]):
                        k -= 1
                    word = sql[k + 1 : j + 1].upper()
                    is_literal = word in _PRE_LITERAL_KEYWORDS
            stack.append(is_literal)
            out.append("array(" if is_literal else "[")
            continue
        if c == "]":
            if stack and stack.pop():
                out.append(")")
            else:
                out.append("]")
            continue
        out.append(c)
    return "".join(out)
_FETCH_RE = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b", re.IGNORECASE
)
_OFFSET_LIMIT_RE = re.compile(
    r"\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)\b", re.IGNORECASE
)


_DEC_LITERAL_RE = re.compile(r"(?<![\w.])(\d+\.\d+|\.\d+)(?![\w.])")


def _double_mul_div_literals(sql: str) -> str:
    """Decimal literals participating in ``*`` / ``/`` become double
    literals (``100.0`` → ``100.0D``).

    DuckDB's ``/`` is float division, so ``x * 100.0 / y`` comes back
    DOUBLE (``20.2``); Spark types the literal DECIMAL(4,1) and
    propagates decimal through the arithmetic, yielding
    DecimalType(29,4) (``20.2000``) — numerically equal, serialized
    differently, and every migrated percentage dashboard hits it. Only
    literals textually adjacent to ``*`` or ``/`` are converted:
    additive contexts keep Spark's exact decimal semantics (DuckDB's
    ``0.1 + 0.2`` is decimal 0.3 — converting those would diverge the
    other way)."""
    states = _scan_states(sql)
    out = []
    last = 0
    for m in _DEC_LITERAL_RE.finditer(sql):
        s, e = m.span(1)
        if states[s] != 0:
            continue
        lit = m.group(1)
        if "e" in lit or "E" in lit:
            continue  # exponent literals are already double
        before = sql[:s].rstrip()[-1:] if sql[:s].rstrip() else ""
        after = sql[e:].lstrip()[:1] if sql[e:].lstrip() else ""
        # '/' and '%' now spell try_divide()/try_mod() (the operator
        # pass runs first), so a literal ARGUMENT of those calls is in
        # division context too
        in_div_call = before in ("(", ",") and _enclosing_call_name(
            sql, states, s
        ) in ("try_divide", "try_mod")
        if before in ("*", "/") or after in ("*", "/") or in_div_call:
            out.append(sql[last:e])
            out.append("D")
            last = e
    out.append(sql[last:])
    return "".join(out)


def _rename_functions(sql: str) -> str:
    states = _scan_states(sql)
    out: list[str] = []
    i = 0
    n = len(sql)
    pattern = re.compile(
        r"\b(" + "|".join(_FN_RENAMES) + r")\s*\(", re.IGNORECASE
    )
    last = 0
    for m in pattern.finditer(sql):
        if states[m.start()] != 0:
            continue
        out.append(sql[last : m.start()])
        out.append(_FN_RENAMES[m.group(1).lower()])
        out.append(sql[m.start() + len(m.group(1)) : m.end()])
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


# ---------------------------------------------------------------------------
# BOXPLOT macro expansion
# ---------------------------------------------------------------------------

def _boxplot_expansion(val: str, outlier_info: str | None) -> str:
    """Expand the reference's BOXPLOT macro into Spark SQL aggregates.

    Mirrors server/core/custom_types.go:104-128: quantile whiskers at
    1.5×IQR, outlier list with attached info map.
    """
    q1 = f"percentile({val}, 0.25D)"
    q3 = f"percentile({val}, 0.75D)"
    iqr = f"({q3} - {q1})"
    hi = f"({q3} + 1.5D * {iqr})"
    lo = f"({q1} - 1.5D * {iqr})"
    if outlier_info is None:
        outliers = (
            "CAST(array() AS ARRAY<STRUCT<value: DOUBLE, info: MAP<STRING, STRING>>>)"
        )
        mx = f"CAST(array_max(filter(collect_list(CAST({val} AS DOUBLE)), v -> v <= {hi})) AS DOUBLE)"
        mn = f"CAST(array_min(filter(collect_list(CAST({val} AS DOUBLE)), v -> v >= {lo})) AS DOUBLE)"
    else:
        outliers = (
            f"filter(collect_list(named_struct('value', CAST({val} AS DOUBLE), "
            f"'info', {outlier_info})), o -> o.value < {lo} OR o.value > {hi})"
        )
        mx = f"CAST(array_max(filter(collect_list(CAST({val} AS DOUBLE)), v -> v <= {hi})) AS DOUBLE)"
        mn = f"CAST(array_min(filter(collect_list(CAST({val} AS DOUBLE)), v -> v >= {lo})) AS DOUBLE)"
    return (
        "named_struct("
        f"'max', {mx}, "
        f"'min', {mn}, "
        f"'outliers', {outliers}, "
        f"'q1', CAST({q1} AS DOUBLE), "
        f"'q2', CAST(percentile({val}, 0.5D) AS DOUBLE), "
        f"'q3', CAST({q3} AS DOUBLE))"
    )


_ASOF_RE = re.compile(
    r"\b([\w.`\"]+)(\s+(?:AS\s+)?(\w+))?\s+ASOF\s+(LEFT\s+)?JOIN\s+"
    r"([\w.`\"]+)(\s+(?:AS\s+)?(\w+))?\s+ON\s+",
    re.IGNORECASE,
)

_ASOF_TAIL_RE = re.compile(
    r"\b(WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|WINDOW|QUALIFY|UNION|"
    r"INTERSECT|EXCEPT|JOIN|LEFT|RIGHT|FULL|INNER|CROSS|ASOF)\b",
    re.IGNORECASE,
)

_INEQ_RE = re.compile(r"(>=|<=|>|<)")


def _rewrite_asof_join(sql: str) -> tuple[str, list[tuple[str, str]]]:
    """DuckDB's ``ASOF [LEFT] JOIN`` SQL syntax → a Spark LATERAL
    correlated subquery: for each left row, the single right row
    extremizing the inequality column among the matches —
    ``ON l.k = r.k AND l.ts >= r.ts`` becomes
    ``JOIN LATERAL (SELECT * FROM r WHERE k = l.k AND ts <= l.ts
    ORDER BY ts DESC LIMIT 1)``. Handles the simple form (named
    tables, conjunctive ON with exactly one inequality); anything it
    can't parse passes through untouched so Spark reports the original
    text.

    COMPATIBILITY PATH ONLY — measured scale caveat: Catalyst
    decorrelates the non-equi LATERAL through a BroadcastNestedLoopJoin
    (O(left × right) within the domain), measured 125 s on 60 k × 60 k
    events where DuckDB's native ASOF takes 34 ms. Fine at
    dashboard-render row counts (the 3000-row cap keeps pasted queries
    small); for data-scale as-of joins use ``operators/asof.py``
    (union + ONE window shuffle — linear) — a local text substitution
    cannot reach that shape because the union+window form restructures
    the whole statement, not just the join clause.

    Returns ``(sql, pairs)`` where ``pairs`` lists the (left, right)
    table/CTE names of every join rewritten, so the engine's
    cardinality guard (``engine._asof_quadratic_guard``) can refuse the
    quadratic plan when BOTH inputs are large and point the user at
    ``shaper_spark/operators/asof.py``."""
    pairs: list[tuple[str, str]] = []
    while True:
        states = _scan_states(sql)
        m = next(
            (
                m
                for m in _ASOF_RE.finditer(sql)
                if states[m.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql, pairs
        left_tbl, lalias = m.group(1), m.group(3)
        is_left = bool(m.group(4))
        right_tbl, ralias = m.group(5), m.group(7)
        r_name = ralias or right_tbl.split(".")[-1].strip('`"')
        # the ON expression runs to the next top-level clause keyword
        rest = sql[m.end() :]
        tails = _depth0_matches(rest, _ASOF_TAIL_RE)
        end = tails[0].start() if tails else len(rest)
        cond = rest[:end].strip()
        conjuncts = re.split(r"\bAND\b", cond, flags=re.IGNORECASE)
        ineq_idx = None
        for i, c in enumerate(conjuncts):
            if "<>" in c:
                continue  # not-equals, not an asof inequality
            if _INEQ_RE.search(c):
                if ineq_idx is not None:
                    return sql, pairs  # two inequalities — not the simple form
                ineq_idx = i
        if ineq_idx is None:
            return sql, pairs
        ineq = conjuncts[ineq_idx].strip()
        mm = _INEQ_RE.search(ineq)
        lhs, op, rhs = (
            ineq[: mm.start()].strip(),
            mm.group(1),
            ineq[mm.end() :].strip(),
        )
        r_prefix = f"{r_name}."
        if rhs.startswith(r_prefix):
            right_expr, flipped = rhs, False
        elif lhs.startswith(r_prefix):
            right_expr, flipped = lhs, True
        else:
            return sql, pairs
        # "l.ts >= r.ts" (or flipped "r.ts <= l.ts") → latest earlier
        # right row (DESC); "<="/flipped ">=" → earliest later (ASC)
        effective = {True: {">=": "<=", "<=": ">=", ">": "<", "<": ">"}[op],
                     False: op}[flipped]
        direction = "DESC" if effective in (">=", ">") else "ASC"
        join_kw = "LEFT JOIN LATERAL" if is_left else "JOIN LATERAL"
        lateral = (
            f"{join_kw} (SELECT * FROM {right_tbl} AS {r_name} "
            f"WHERE {cond} ORDER BY {right_expr} {direction} LIMIT 1) "
            f"AS {r_name}"
        )
        left_part = left_tbl + (m.group(2) or "")
        tail = rest[end:]
        # With no alias the greedy name group captures the preceding
        # keyword ("FROM a ASOF …" → group1='FROM', group3='a'); the
        # reconstruction above is unaffected, but the guard needs the
        # real relation name.
        l_name = left_tbl
        if lalias and l_name.upper() in ("FROM", "JOIN", "LATERAL", "WHERE", "AND", "ON"):
            l_name = lalias
        pairs.append((l_name, right_tbl))
        sql = (
            sql[: m.start()]
            + f"{left_part} {lateral}"
            + (" " + tail if tail and not tail[0].isspace() else tail)
        )


def _expr_start(sql: str, states: list[int], bracket: int) -> int:
    """Start index of the primary expression ending just before
    ``sql[bracket]`` (a ``[``): walks back over identifier chars
    (including dots), backquoted identifiers, and balanced ``(...)`` /
    ``[...]`` groups — ``foo(x)[1]``, ``a.b[1]``, ``(a+b)[1]``,
    ``a[1][2]`` all capture correctly.  Returns ``bracket`` when
    nothing precedes (not a subscript)."""
    i = bracket - 1
    while i >= 0:
        c = sql[i]
        if states[i] == 0 and c in ")]":
            depth = 0
            while i >= 0:
                if states[i] == 0 and sql[i] in ")]":
                    depth += 1
                elif states[i] == 0 and sql[i] in "([":
                    depth -= 1
                    if depth == 0:
                        i -= 1
                        break
                i -= 1
            continue
        if states[i] > 1:  # a quoted identifier
            i = _span_start(states, i) - 1
            continue
        if _IDENT_CHARS.match(c) or c == ".":
            i -= 1
            continue
        break
    return i + 1


_SQL_KEYWORD_TAIL = {
    # a bare word right before '[' that is a KEYWORD means the bracket
    # was a list literal the earlier pass already handled — never a
    # subscript base (defense in depth; the literal pass rewrites these)
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "ON", "BY", "AS",
    "WHEN", "THEN", "ELSE", "END", "FROM", "JOIN", "HAVING", "RETURN",
    "RETURNS", "VALUES", "UNION", "ALL", "DISTINCT", "CASE", "ARRAY",
}


def _rewrite_subscripts(sql: str) -> str:
    """DuckDB bracket subscripts → engine-identical Spark calls.

    DuckDB's ``expr[i]`` is ONE-based with negative-from-end and NULL
    out of bounds; Spark's ``[]`` is ZERO-based and (under ANSI) errors
    out of bounds — a silent off-by-one for every ported dashboard.
    ``try_element_at`` has exactly DuckDB's semantics for both arrays
    (1-based, negatives, NULL OOB) and maps (key lookup, NULL missing),
    so:

    * ``expr[i]``  → ``try_element_at(expr, i)`` for any non-string
      subscript (variables included).  String-literal subscripts stay
      bracketed — Spark's ``map['k']``/``struct['field']`` already
      match DuckDB, and ``try_element_at`` cannot address structs.
    * ``expr[a:b]`` (integer-literal slice, 1-based inclusive) →
      ``slice(expr, a, b-a+1)``; open ends: ``[:b]`` → from 1,
      ``[a:]`` → ``slice(expr, a, greatest(size(expr)-(a)+1, 0))``
      (the base repeats — subscript bases are cheap projections).

    Runs AFTER _rewrite_bracket_literals, so every remaining state-0
    ``[`` preceded by an expression is a subscript."""
    while True:
        states = _scan_states(sql)
        target = None
        for i, c in enumerate(sql):
            if c != "[" or states[i] != 0:
                continue
            start = _expr_start(sql, states, i)
            if start >= i:
                continue
            base = sql[start:i]
            if not base.strip():
                continue
            if (
                base.strip("`\"").upper() in _SQL_KEYWORD_TAIL
                and not states[i - 1]
                and base[-1] not in ")]"
            ):
                continue
            # find the matching ']' and any top-level ':'s
            depth = 0
            colons: list[int] = []
            end = None
            for j in range(i, len(sql)):
                if states[j] != 0:
                    continue
                cj = sql[j]
                if cj == "[":
                    depth += 1
                elif cj == "]":
                    depth -= 1
                    if depth == 0:
                        end = j
                        break
                elif cj == ":" and depth == 1:
                    if j + 1 < len(sql) and sql[j + 1] == ":":
                        break  # '::' cast inside — leave this bracket
                    colons.append(j)
            colon = colons[0] if len(colons) == 1 else None
            if end is None:
                continue
            content = sql[i + 1 : end]
            if not content.strip():
                continue  # 'INT[]' array-type suffix
            stripped = content.strip()
            if stripped.startswith("'"):
                continue  # string subscript: Spark brackets already match
            if len(colons) == 2:
                # stepped slice l[a:b:s] (batch-22): positive literal
                # steps lower onto the 4-arg list_slice fixer; open
                # ends default to 1 / size(base)
                lo = sql[i + 1 : colons[0]].strip()
                hi = sql[colons[0] + 1 : colons[1]].strip()
                st = sql[colons[1] + 1 : end].strip()
                if (
                    (lo and not _INT_LIT_RE.match(lo))
                    or (hi and not _INT_LIT_RE.match(hi))
                    or not re.fullmatch(r"\d+", st)
                ):
                    continue
                lo = lo or "1"
                hi = hi or f"size({base})"
                target = (start, i, end, "lslice", lo, (hi, st), base)
                break
            if colon is not None:
                lo = sql[i + 1 : colon].strip()
                hi = sql[colon + 1 : end].strip()
                if (lo and not _INT_LIT_RE.match(lo)) or (
                    hi and not _INT_LIT_RE.match(hi)
                ):
                    continue  # non-literal slice bounds: leave as-is
                if not lo and not hi:
                    continue
                target = (start, i, end, "slice", lo, hi, base)
                break
            target = (start, i, end, "idx", stripped, None, base)
            break
        if target is None:
            return sql
        start, i, end, kind, a, b, base = target
        if kind == "idx":
            repl = f"try_element_at({base}, {a})"
        elif kind == "lslice":
            repl = f"list_slice({base}, {a}, {b[0]}, {b[1]})"
        elif not a:  # [:b]
            repl = f"slice({base}, 1, {b})"
        elif not b:  # [a:]
            repl = (
                f"slice({base}, {a}, "
                f"greatest(size({base}) - ({a}) + 1, 0))"
            )
        else:
            repl = f"slice({base}, {a}, ({b}) - ({a}) + 1)"
        sql = sql[:start] + repl + sql[end + 1 :]


_INT_LIT_RE = re.compile(r"^-?\d+$")


_MAP_CALL_RE = re.compile(r"(?<![\w.])map\s*\(", re.IGNORECASE)


def _rewrite_map_two_arrays(sql: str) -> str:
    """DuckDB's two-array ``map([k…], [v…])`` → Spark
    ``map_from_arrays`` (Spark's ``map()`` is variadic key/value
    pairs).  Only fires when BOTH top-level args are ``array(…)``
    calls — the form the bracket-literal pass emits — so Spark-style
    pair calls and the MAP{} literal expansion pass through."""
    out = sql
    pos = 0
    while True:
        m = _MAP_CALL_RE.search(out, pos)
        if m is None:
            return out
        states = _scan_states(out)
        if states[m.start()] != 0:
            pos = m.end()
            continue
        open_paren = out.index("(", m.start())
        end = _find_matching_close(out, open_paren, states)
        if end == -1:
            return out
        args = _split_top_level_args(out[open_paren + 1 : end])
        if len(args) == 2 and all(a.lower().startswith("array(") for a in args):
            out = (
                out[: m.start()]
                + "map_from_arrays("
                + out[open_paren + 1 :]
            )
            pos = m.start() + len("map_from_arrays(")
        else:
            pos = end + 1


_SIMILAR_TO_RE = re.compile(
    r"\b(NOT\s+)?SIMILAR\s+TO\s+('(?:[^']|'')*')", re.IGNORECASE
)


def _rewrite_similar_to(sql: str) -> str:
    """``x [NOT] SIMILAR TO 'pat'`` → ``x [NOT] RLIKE '^(?:pat)$'`` —
    DuckDB treats SIMILAR TO as an anchored regex match."""
    states = _scan_states(sql)
    out: list[str] = []
    last = 0
    for m in _SIMILAR_TO_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        lit = m.group(2)
        inner = lit[1:-1]
        out.append(sql[last : m.start()])
        out.append(
            ("NOT " if m.group(1) else "") + f"RLIKE '^(?:{inner})$'"
        )
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_AGG_ORDER_RE = re.compile(
    r"\b(string_agg|listagg|array_agg|list|first|last|any_value)\s*\(",
    re.IGNORECASE
)

_ORDER_BY_TAIL_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)


def _rewrite_agg_order_by(sql: str) -> str:
    """Inline ``ORDER BY`` inside aggregate calls (DuckDB/Postgres) →
    Spark equivalents:

    * ``string_agg(x, sep ORDER BY k…)`` / ``listagg(…)`` →
      ``listagg(x, sep) WITHIN GROUP (ORDER BY k…)`` (Spark 4 syntax).
    * ``array_agg(x ORDER BY k [DESC])`` / ``list(…)`` (single sort
      key) → ``transform(array_sort(collect_list(struct(k, x))),
      s -> s.col2)`` — struct sort orders by the key field first;
      ``reverse`` for DESC.  Self-ordered ``array_agg(x ORDER BY x)``
      folds to ``sort_array(collect_list(x)[, False])``."""
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _AGG_ORDER_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            open_paren = sql.index("(", m.start())
            end = _find_matching_close(sql, open_paren, states)
            if end == -1:
                continue
            inner = sql[open_paren + 1 : end]
            tails = _depth0_matches(inner, _ORDER_BY_TAIL_RE)
            if not tails:
                continue
            om = tails[0]
            hit = (m, open_paren, end, inner, om)
            break
        if hit is None:
            return sql
        m, open_paren, end, inner, om = hit
        fn = m.group(1).lower()
        head = inner[: om.start()].rstrip().rstrip(",")
        order = inner[om.end() :].strip()
        if fn in ("string_agg", "listagg"):
            repl = (
                f"listagg({head}) WITHIN GROUP (ORDER BY {order})"
            )
        elif fn in ("first", "last", "any_value"):
            # first(x ORDER BY k) = the x at the minimum k → min_by;
            # last = max_by; DESC flips.  r11 (ADVICE): NULLS
            # FIRST/LAST modifiers are stripped (min_by/max_by skip
            # NULL keys — DuckDB's default NULLS-LAST ASC agrees;
            # explicit NULLS FIRST is a documented divergence), and a
            # multi-key ORDER BY becomes a struct ordering key
            # (lexicographic) when every key sorts the same direction
            # — mixed directions raise a named error instead of
            # emitting invalid min_by(x, a, b).
            keys: list[str] = []
            dirs: list[bool] = []
            for part in _split_top_level_args(order):
                part = re.sub(
                    r"\s+NULLS\s+(FIRST|LAST)\s*$", "", part.strip(),
                    flags=re.IGNORECASE,
                )
                dm = re.match(
                    r"(.*?)\s+(ASC|DESC)\s*$", part,
                    re.IGNORECASE | re.DOTALL,
                )
                keys.append(dm.group(1).strip() if dm else part)
                dirs.append(bool(dm) and dm.group(2).upper() == "DESC")
            if len(set(dirs)) > 1:
                raise ValueError(
                    f"{fn}(expr ORDER BY …) with mixed ASC/DESC keys "
                    "cannot be expressed as min_by/max_by; invert the "
                    "DESC key's sign (or use a window row_number() "
                    "pick) instead"
                )
            desc = dirs[0]
            key = (
                keys[0] if len(keys) == 1
                else "struct(" + ", ".join(keys) + ")"
            )
            pick = (
                "max_by" if (fn == "last") != desc else "min_by"
            )
            if fn == "any_value":
                # duck ordered any_value = first NON-NULL in order:
                # NULLing the key on NULL values makes min_by/max_by
                # skip those rows (they ignore NULL keys) — r11
                key = (
                    f"CASE WHEN ({head}) IS NOT NULL THEN {key} END"
                )
            # as-is: the arg_max NULL-skip fixer stays off these
            # emissions — duck first/last KEEP NULL values
            repl = f"{pick}{_AS_IS}({head}, {key})"
            if fn == "last" and len(keys) == 1:
                # duck's default NULLS-LAST ordering puts NULL keys at
                # the END in both directions, so last() returns a
                # NULL-key row's value whenever one exists (r11
                # aggregate fuzzer: last(i ORDER BY i) with a NULL i
                # is NULL in DuckDB); min_by/max_by skip NULL keys
                repl = (
                    f"(CASE WHEN count({key}) < count(*) THEN "
                    f"max(CASE WHEN ({key}) IS NULL THEN {head} END) "
                    f"ELSE {repl} END)"
                )
        else:
            direction = ""
            om2 = re.match(
                r"(.*?)\s+(ASC|DESC)\s*$", order, re.IGNORECASE | re.DOTALL
            )
            key = order
            if om2:
                key = om2.group(1).strip()
                direction = om2.group(2).upper()
            if key == head.strip():
                asc = "False" if direction == "DESC" else "True"
                repl = f"sort_array(collect_list({head}), {asc})"
            else:
                base = (
                    "transform(array_sort(collect_list("
                    f"struct({key} AS __k, {head} AS __v))), s -> s.__v)"
                )
                repl = f"reverse({base})" if direction == "DESC" else base
        sql = sql[: m.start()] + repl + sql[end + 1 :]


_LIST_AGG_FNS = {
    "sum": "aggregate({l}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)",
    "avg": (
        "aggregate({l}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        " / size({l})"
    ),
    "mean": (
        "aggregate({l}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        " / size({l})"
    ),
    "min": "array_min({l})",
    "max": "array_max({l})",
    "count": "size(filter({l}, x -> x IS NOT NULL))",
    # r11 tail (pinned against DuckDB 1.0): median interpolates and
    # returns DOUBLE with NULL elements skipped; product skips NULLs;
    # first/last KEEP a NULL end element; string_agg skips NULLs with
    # the ',' default; stddev is the sample statistic
    "median": (
        "(CASE WHEN size(array_compact({l})) = 0 THEN NULL "
        "WHEN size(array_compact({l})) % 2 = 1 THEN "
        "CAST(element_at(array_sort(array_compact({l})), "
        "CAST((size(array_compact({l})) + 1) DIV 2 AS INT)) AS DOUBLE) "
        "ELSE (CAST(element_at(array_sort(array_compact({l})), "
        "CAST(size(array_compact({l})) DIV 2 AS INT)) AS DOUBLE) "
        "+ element_at(array_sort(array_compact({l})), "
        "CAST(size(array_compact({l})) DIV 2 + 1 AS INT))) / 2 END)"
    ),
    "product": (
        "aggregate(array_compact({l}), CAST(1 AS DOUBLE), "
        "(acc, x) -> acc * x)"
    ),
    "first": "try_element_at({l}, 1)",
    "last": "try_element_at({l}, -1)",
    "string_agg": "array_join({l}, ',')",
    "stddev": (
        "sqrt(try_divide("
        "aggregate(array_compact({l}), CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + x * x) "
        "- size(array_compact({l})) * power(try_divide("
        "aggregate(array_compact({l}), CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + x), size(array_compact({l}))), 2), "
        "size(array_compact({l})) - 1))"
    ),
}


def _fix_list_aggregate(args: list[str]) -> str | None:
    # DuckDB list_aggregate(l, 'name') → the matching Spark array
    # expression for the reducers in _LIST_AGG_FNS
    if len(args) != 2:
        return None
    fname = args[1].strip("'\"").lower()
    if fname not in _LIST_AGG_FNS:
        return None
    return "(" + _LIST_AGG_FNS[fname].format(l=args[0]) + ")"


_LIST_COMPREHENSION_RE = re.compile(
    r"\[([^\[\]]+)\s+FOR\s+(\w+)\s+IN\s+", re.IGNORECASE
)


def _rewrite_list_comprehensions(sql: str) -> str:
    """DuckDB list comprehensions → Spark HOFs:
    ``[expr FOR x IN l]`` → ``transform(l, x -> expr)``;
    ``[expr FOR x IN l IF cond]`` →
    ``transform(filter(l, x -> cond), x -> expr)``.
    Single-variable form, one level (no nesting).  Runs BEFORE the
    bracket-literal pass (the comprehension bracket is neither a list
    literal nor a subscript)."""
    while True:
        states = _scan_states(sql)
        m = next(
            (
                m
                for m in _LIST_COMPREHENSION_RE.finditer(sql)
                if states[m.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        expr, var = m.group(1).strip(), m.group(2)
        # the list expression runs to the matching ']' (or a top-level IF)
        depth = 1
        j = m.end()
        if_pos = None
        end = None
        while j < len(sql):
            if states[j] == 0:
                c = sql[j]
                if c in "([":
                    depth += 1
                elif c in ")]":
                    depth -= 1
                    if depth == 0:
                        end = j
                        break
                elif depth == 1 and sql[j : j + 3].upper() == " IF" and (
                    j + 3 >= len(sql) or not sql[j + 3].isalnum()
                ):
                    if_pos = j
            j += 1
        if end is None:
            return sql
        if if_pos is not None:
            lst = sql[m.end() : if_pos].strip()
            cond = sql[if_pos + 3 : end].strip()
            repl = (
                f"transform(filter({lst}, {var} -> {cond}), "
                f"{var} -> {expr})"
            )
        else:
            lst = sql[m.end() : end].strip()
            repl = f"transform({lst}, {var} -> {expr})"
        sql = sql[: m.start()] + repl + sql[end + 1 :]


def _expr_end_fwd(sql: str, states: list[int], start: int) -> int:
    """End index (exclusive) of the primary expression beginning at
    ``sql[start]``: optional unary +/-, then an identifier (with dots,
    possibly a function call), a quoted literal, a number, or a
    parenthesized/bracketed group — the forward twin of _expr_start."""
    n = len(sql)
    i = start
    while i < n and sql[i].isspace():
        i += 1
    if i < n and sql[i] in "+-":
        i += 1
        while i < n and sql[i].isspace():
            i += 1
    if i >= n:
        return i
    c = sql[i]
    if states[i] == 1:
        return _span_end(states, i)
    if c in "([":
        close = _find_matching_close(sql, i, states)
        return n if close == -1 else close + 1
    if c.isdigit():
        while i < n and (sql[i].isdigit() or sql[i] in ".eE"):
            i += 1
        return i
    if _IDENT_CHARS.match(c) or states[i] == 3:
        while i < n and (
            states[i] == 3 or _IDENT_CHARS.match(sql[i]) or sql[i] == "."
        ):
            i += 1
        j = i
        while j < n and sql[j].isspace():
            j += 1
        if j < n and sql[j] == "(":
            close = _find_matching_close(sql, j, states)
            if close != -1:
                return close + 1
        return i
    return start


_HOF_NAMES = {
    "transform", "filter", "aggregate", "reduce", "exists", "forall",
    "zip_with", "map_filter", "map_zip_with", "transform_keys",
    "transform_values", "array_sort", "list_transform", "list_filter",
    "list_reduce", "list_aggregate", "list_sort",
}


def _enclosing_call_name(sql: str, states: list[int], pos: int) -> str:
    """Lower-cased identifier of the innermost function call containing
    ``pos`` (scan back to the unbalanced '('), or "" at top level."""
    depth = 0
    i = pos - 1
    while i >= 0:
        if states[i] == 0:
            c = sql[i]
            if c in ")]":
                depth += 1
            elif c in "([":
                if depth == 0:
                    j = i - 1
                    while j >= 0 and sql[j].isspace():
                        j -= 1
                    k = j
                    while k >= 0 and _IDENT_CHARS.match(sql[k]):
                        k -= 1
                    return sql[k + 1 : j + 1].lower()
                depth -= 1
        i -= 1
    return ""


def _rewrite_binary_op(
    sql: str,
    op_re: re.Pattern,
    build: "Callable[[str, str, re.Match], str]",
    rhs_string_only: bool = False,
    skip_lambda_lhs: bool = False,
    extend_mult_chain: bool = False,
    rhs_int_ok: bool = False,
) -> str:
    """Generic binary-operator rewrite: capture the left primary
    expression (backwards) and right primary expression (forwards)
    around each state-0 match of ``op_re`` and splice in
    ``build(left, right, match)``.

    ``extend_mult_chain`` (for ``/ % //``): multiplicative operators
    are equal-precedence and left-associative, so ``7 * 3 % 5`` is
    ``(7*3) % 5`` — the left capture must absorb the whole chain of
    raw ``* / // %`` operators preceding the adjacent primary
    (operators a prior pass already rewrote are calls, i.e. ordinary
    primaries).  Without this, ``7 * 3 % 5`` became
    ``7 * try_mod(3, 5)`` = 21 instead of 1 (r10 ADVICE, high)."""
    while True:
        states = _scan_states(sql)
        hit = None
        for m in op_re.finditer(sql):
            if states[m.start()] != 0:
                continue
            # skip spaces back to the operand, then capture it — a
            # quoted literal (walk to its opening quote) or a primary
            # expression (_expr_start)
            k = m.start() - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k < 0:
                continue
            lstart = _pull_primary_left(sql, states, k)
            # 'INTERVAL 3 HOUR / 2': the primary scan stops at the
            # unit keyword — absorb the whole interval literal
            # (batch-24)
            if _INTERVAL_UNIT_WORD_RE.fullmatch(sql[lstart : k + 1].strip()):
                p = lstart - 1
                while p >= 0 and sql[p].isspace():
                    p -= 1
                if p >= 0:
                    qs = _expr_start(sql, states, p + 1)
                    r = qs - 1
                    while r >= 0 and sql[r].isspace():
                        r -= 1
                    if r >= 7 and sql[r - 7 : r + 1].upper() == "INTERVAL":
                        lstart = r - 7
            if extend_mult_chain:
                while True:
                    p = lstart - 1
                    while p >= 0 and sql[p].isspace():
                        p -= 1
                    # a sign with nothing primary-like before it is
                    # unary — part of this operand, keep scanning
                    if p >= 0 and states[p] == 0 and sql[p] in "+-":
                        q = p - 1
                        while q >= 0 and sql[q].isspace():
                            q -= 1
                        if q < 0 or not (
                            states[q] or sql[q].isalnum() or sql[q] in ")]_"
                        ):
                            lstart = p
                            continue
                    if p < 0 or states[p] != 0:
                        break
                    if sql[p] == "*" and not (p > 0 and sql[p - 1] == "*"):
                        op_at = p
                    elif sql[p] == "%":
                        op_at = p
                    elif sql[p] == "/":
                        op_at = p - 1 if p > 0 and sql[p - 1] == "/" else p
                    else:
                        break
                    q = op_at - 1
                    while q >= 0 and sql[q].isspace():
                        q -= 1
                    if q < 0:
                        break
                    if not (states[q] or sql[q].isalnum() or sql[q] in ")]_"):
                        break
                    new_start = _pull_primary_left(sql, states, q)
                    if sql[new_start : q + 1].strip().upper() in _SQL_KEYWORD_TAIL:
                        # 'SELECT *' etc. — that '*' is a star, not
                        # multiplication
                        break
                    if new_start > q:
                        break
                    lstart = new_start
            left = sql[lstart : m.start()].strip()
            if not left:
                continue
            if skip_lambda_lhs:
                # a lambda's parameter list sits right after '(' or ','
                # INSIDE a higher-order function call —
                # "transform(l, x -> 'a')" must stay a lambda, not
                # become a JSON extraction; a select-list item after a
                # comma ("…, j -> 'a'") is real JSON syntax
                p = lstart - 1
                while p >= 0 and sql[p].isspace():
                    p -= 1
                if p >= 0 and sql[p] in "(," and _enclosing_call_name(
                    sql, states, lstart
                ) in _HOF_NAMES:
                    continue
            rend = _expr_end_fwd(sql, states, m.end())
            right = sql[m.end() : rend].strip()
            if not right:
                continue
            if rhs_string_only and not (
                right.startswith("'")
                or (rhs_int_ok and re.fullmatch(r"\d+", right))
            ):
                continue
            hit = (lstart, rend, left, right, m)
            break
        if hit is None:
            return sql
        lstart, rend, left, right, m = hit
        sql = sql[:lstart] + build(left, right, m) + sql[rend:]


# '^' is POWER in DuckDB (xor is the xor() function) but bitwise XOR in
# Spark — a silent wrong answer, not an error.  '**' is DuckDB's other
# power spelling.  Exclude '^' that opens a regex anchor (inside
# literals states handles it).
_POWER_RE = re.compile(r"(?<![\^<>=!|*])(?:\^|\*\*)(?![\^=*])")

# DuckDB starts-with operator: a ^@ b  →  startswith(a, b)
_STARTS_WITH_OP_RE = re.compile(r"\^@")
# binary '~' / '!~' are DuckDB regex match / not-match (RHS must be a
# string literal to avoid the unary bitwise form)
_TILDE_RE = re.compile(r"(!?)~(?![~*])")
_JSON_ARROW_RE = re.compile(r"->(>?)")
_GLOB_RE = re.compile(r"\bGLOB\b", re.IGNORECASE)


def _glob_to_regex(pat: str) -> str:
    """GLOB wildcard pattern → anchored regex: ``*`` → ``.*``, ``?``
    → ``.``, ``[...]`` classes pass through, other specials escape.
    Emitted with SINGLE backslashes — the literal-backslash pass at
    the end of rewrite_statement doubles them for Spark."""
    out = []
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = pat.find("]", i + 1)
            if j == -1:
                out.append("\\[")
            else:
                out.append(pat[i : j + 1])
                i = j
        elif c in ".^$+(){}|\\":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    return "^" + "".join(out) + "$"
_INT_DIV_RE = re.compile(r"(?<![/*])//(?![/*])")
# a single '/' that is not part of '//' or a comment delimiter
_SLASH_RE = re.compile(r"(?<![/*])/(?![/*=])")
# a single '%' (string literals are state-protected by the caller)
_PERCENT_RE = re.compile(r"%(?!=)")


_INTERVAL_UNIT_WORD_RE = re.compile(
    r"(?:SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|QUARTER|YEAR"
    r"|MILLISECOND|MICROSECOND)S?",
    re.IGNORECASE,
)

_IN_VALUES_RE = re.compile(r"\bIN\s*\(\s*(VALUES\b)", re.IGNORECASE)


_QUANTIFIED_CMP_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|ALL|SOME)\s*\(", re.IGNORECASE
)


_ARITH_STOP_KEYWORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE",
    "CASE", "END", "ON", "BY", "HAVING", "RETURN", "SET", "IN",
    "LIKE", "BETWEEN", "FROM", "AS", "IS", "ALL", "ANY", "SOME",
    "VALUES", "LIMIT", "OFFSET", "DISTINCT", "UNION", "EXCEPT",
    "INTERSECT", "JOIN", "QUALIFY",
}


def _pull_primary_left(sql: str, states: list[int], endpos: int) -> int:
    """Start index of the primary expression whose last character is at
    ``endpos`` — like :func:`_expr_start` but also walks a single-quoted
    string literal (``'a' || x = ANY (…)`` pulls in ``'a'``)."""
    if states[endpos] == 1:
        return _span_start(states, endpos)
    return _expr_start(sql, states, endpos + 1)


def _extend_arith_left(sql: str, states: list[int], lstart: int) -> int:
    """Extend a captured primary left operand across every binary
    operator that binds TIGHTER than a comparison — arithmetic
    ``+-*/%``, power ``^``/``**``, concat ``||``, bitwise ``&``/``|``,
    shifts ``<<``/``>>`` — plus a leading unary sign: a quantified
    comparison binds looser than all of these, so ``-5 <= ALL (…)``,
    ``a - 5 < ANY (…)`` and ``first || ' ' || last = ANY (…)`` all
    compare the FULL left expression (r12 fuzz find; the ``||`` case
    is the r12 ADVICE find — the primary-only capture left ``a || ``
    OUTSIDE the membership CASE, concatenating a boolean)."""
    while True:
        p = lstart - 1
        while p >= 0 and sql[p].isspace():
            p -= 1
        if p < 0 or states[p] != 0:
            return lstart
        ch = sql[p]
        doubled = p > 0 and states[p - 1] == 0 and sql[p - 1] == ch
        if ch in "<>":
            # '<<' / '>>' shifts are binary and tighter than the
            # comparison; a single '<' / '>' is the comparison itself
            if not doubled:
                return lstart
            oplen, binary = 2, True
        elif ch == "|":
            # '||' concat or bitwise '|' — both tighter than comparison
            oplen, binary = (2 if doubled else 1), True
        elif ch in "&^":
            oplen, binary = 1, True
        elif ch in "*/":
            # '**' power / '//' int-div are 2-char binary operators;
            # single '*' and '/' keep the unary-sign analysis below
            oplen, binary = (2, True) if doubled else (1, False)
        elif ch == "%":
            oplen, binary = 1, False
        elif ch in "+-":
            oplen, binary = 1, False
        else:
            return lstart
        if not binary:
            q = p - 1
            while q >= 0 and sql[q].isspace():
                q -= 1
            unary_pos = (
                q < 0 or (states[q] == 0 and sql[q] in "(,+-*/%<>=")
            )
            if not unary_pos:
                # word before the sign: keyword ⇒ the sign is unary;
                # otherwise it's binary — pull in the operand
                wm = re.search(r"([A-Za-z_]\w*)$", sql[: q + 1])
                if wm and wm.group(1).upper() in _ARITH_STOP_KEYWORDS:
                    unary_pos = True
            if unary_pos:
                if ch in "+-":
                    lstart = p
                    continue
                return lstart
            new_start = _pull_primary_left(sql, states, q)
            if new_start > q:
                return lstart
            lstart = new_start
            continue
        q = p - oplen
        while q >= 0 and sql[q].isspace():
            q -= 1
        if q < 0:
            return lstart
        new_start = _pull_primary_left(sql, states, q)
        if new_start > q:
            return lstart
        lstart = new_start


def _rewrite_quantified_comparisons(sql: str) -> str:
    """Quantified subquery comparisons (batch-24 — Spark has no
    ANY/ALL/SOME operator syntax):

    * ``x = ANY (sub)`` / SOME and ``x <> ALL (sub)`` → three-valued
      membership CASEs over ``IN (sub)`` (r12: Spark's IN-subquery
      returns FALSE where SQL keeps NULL — absent needle with NULL
      elements, or NULL needle vs non-empty set).
    * ordered ops lower onto a scalar min/max subquery
      (``x < ANY`` ≡ ``x < max``, ``x < ALL`` ≡ ``x < min``, …);
      ALL lowers to a full three-valued CASE (empty → TRUE, definite
      failing element → FALSE, NULL left/element → NULL, else TRUE) —
      exact DuckDB semantics incl. NULL elements (batch-28).  ANY with
      NULL elements: WHERE-position behavior matches (FALSE vs NULL
      both reject); the bare SELECT-value corner is documented.
    * ``= ALL`` / ``<> ANY`` are left untouched (loud parse error) —
      their empty/NULL algebra doesn't reduce to one scalar agg."""
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _QUANTIFIED_CMP_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            close = _find_matching_close(sql, m.end() - 1, states)
            if close == -1:
                continue
            sub = sql[m.end() : close].strip()
            if not re.match(r"(?:SELECT|WITH|VALUES)\b", sub, re.IGNORECASE):
                continue
            op = m.group(1)
            quant = m.group(2).upper()
            if quant == "SOME":
                quant = "ANY"
            if op == "=" and quant == "ANY":
                pass
            elif op in ("<>", "!=") and quant == "ALL":
                pass
            elif op in ("<", "<=", ">", ">="):
                pass
            else:
                continue
            # left operand: primary expression (quoted literal aware)
            k = m.start() - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k < 0:
                continue
            lstart = _pull_primary_left(sql, states, k)
            lstart = _extend_arith_left(sql, states, lstart)
            left = sql[lstart : m.start()].strip()
            if not left:
                continue
            hit = (lstart, close, left, op, quant, sub)
            break
        if hit is None:
            return sql
        lstart, close, left, op, quant, sub = hit
        if op == "=":
            # Three-valued membership (r12 fuzz find): Spark's
            # IN-(subquery) returns FALSE where SQL (and DuckDB) keep
            # NULL when the needle is absent but the set has NULLs, or
            # the needle itself is NULL against a non-empty set.  The
            # CASE reinstates the NULL; empty set stays FALSE.  The
            # membership subquery is wrapped ``SELECT * FROM (…)``:
            # Spark's parser mis-reads ``IN (SELECT 'str')`` — a bare
            # string-literal subquery head — as a typed literal
            # (``SELECT`` taken as the type name); the ``*`` pins the
            # query alternative (r13 ADVICE-regression find).
            new = (
                f"CASE WHEN NOT EXISTS "
                f"(SELECT 1 FROM ({sub}) AS __qe) THEN FALSE "
                f"WHEN {left} IN (SELECT * FROM ({sub}) AS __qv) "
                f"THEN TRUE "
                f"WHEN ({left}) IS NULL OR EXISTS "
                f"(SELECT 1 FROM ({sub}) AS __qn(__qnc) "
                f"WHERE __qnc IS NULL) THEN NULL "
                f"ELSE FALSE END"
            )
        elif op in ("<>", "!="):
            # the negation of the membership CASE above (Spark NOT IN
            # has the same FALSE-for-NULL quirk in SELECT position)
            new = (
                f"CASE WHEN NOT EXISTS "
                f"(SELECT 1 FROM ({sub}) AS __qe) THEN TRUE "
                f"WHEN {left} IN (SELECT * FROM ({sub}) AS __qv) "
                f"THEN FALSE "
                f"WHEN ({left}) IS NULL OR EXISTS "
                f"(SELECT 1 FROM ({sub}) AS __qn(__qnc) "
                f"WHERE __qnc IS NULL) THEN NULL "
                f"ELSE TRUE END"
            )
        else:
            want_max = (quant == "ANY") == (op in ("<", "<="))
            agg = "max" if want_max else "min"
            cmp_ = (
                f"{left} {op} "
                f"(SELECT {agg}(__qc) FROM ({sub}) AS __q(__qc))"
            )
            if quant == "ALL":
                # Three-valued ALL (batch-28): empty → TRUE; any
                # definite failing element → FALSE; otherwise a NULL
                # left side or a NULL element makes the result NULL
                # (DuckDB keeps the NULL, rejecting the row in WHERE);
                # only then TRUE.  The bare min/max coalesce form
                # returned TRUE over NULL elements — wrong in DuckDB.
                new = (
                    f"CASE WHEN NOT EXISTS "
                    f"(SELECT 1 FROM ({sub}) AS __qe) THEN TRUE "
                    f"WHEN NOT ({cmp_}) THEN FALSE "
                    f"WHEN ({left}) IS NULL OR EXISTS "
                    f"(SELECT 1 FROM ({sub}) AS __qn(__qnc) "
                    f"WHERE __qnc IS NULL) THEN NULL "
                    f"ELSE TRUE END"
                )
            else:
                new = cmp_
        sql = sql[:lstart] + new + sql[close + 1 :]


_LIMIT_NULL_RE = re.compile(r"\bLIMIT\s+NULL\b", re.IGNORECASE)


def _rewrite_in_values(sql: str) -> str:
    """``x IN (VALUES (…), …)`` → ``x IN (SELECT * FROM VALUES …)`` —
    DuckDB accepts the bare VALUES list as a subquery, Spark needs the
    SELECT."""
    while True:
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in _IN_VALUES_RE.finditer(sql)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        sql = sql[: m.start(1)] + "SELECT * FROM " + sql[m.start(1) :]


_COLLATE_RE = re.compile(
    r'\bCOLLATE\s+("(?:[^"]+)"|[A-Za-z_][\w.]*)', re.IGNORECASE
)


def _rewrite_collate_names(sql: str) -> str:
    """DuckDB collation names → Spark 4 ICU collation names (r13 —
    closes the documented-unsupported collation class: Spark 4.1 has
    native ICU collations, verified live to order/compare exactly like
    DuckDB's icu extension for locale collations).  ``NOCASE`` →
    ``UNICODE_CI``, ``NOACCENT`` → ``UNICODE_AI``, dot-chains combine
    (``NOCASE.NOACCENT`` → ``UNICODE_CI_AI``; ``de.NOCASE`` →
    ``de_CI``); bare locale names pass through natively.  ``NFC``
    (normalize-before-compare) has no Spark collation — loud error."""
    states = _scan_states(sql)
    out = []
    last = 0
    for m in _COLLATE_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        raw = m.group(1).strip('"')
        parts = raw.split(".")
        kws = {p.upper() for p in parts}
        locales = [p for p in parts if p.upper() not in
                   ("NOCASE", "NOACCENT", "NFC")]
        if "NFC" in kws:
            raise ValueError(
                "COLLATE NFC (normalize-before-compare) is not "
                "supported by Spark collations; normalize with "
                "nfc_normalize() and compare plainly instead"
            )
        if not (kws & {"NOCASE", "NOACCENT"}):
            continue  # bare locale: Spark takes it natively
        base = locales[0] if locales else "UNICODE"
        name = base
        if "NOCASE" in kws:
            name += "_CI"
        if "NOACCENT" in kws:
            name += "_AI"
        out.append(sql[last : m.start()])
        out.append(f"COLLATE {name}")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _rewrite_postfix_factorial(sql: str) -> str:
    """DuckDB postfix factorial ``n!`` → ``duckdb_factorial(n)``
    (batch-21 residue closed r13; pinned vs DuckDB 1.0 live:
    ``(2+3)!``/``5 !`` work, ``5!=3`` is the != operator, ``3!!`` and
    ``3! + 1`` are errors THERE too, n < 2 → 1, 34! out of range).
    Applies only where an operand precedes the ``!`` and no ``=``/``~``
    follows (``!=``, ``!~``, ``!~~`` untouched); prefix-NOT uses keep
    working through the keyword guard."""
    while True:
        states = _scan_states(sql)
        hit = None
        for i, c in enumerate(sql):
            if c != "!" or states[i] != 0:
                continue
            if i + 1 < len(sql) and sql[i + 1] in "=~!":
                continue
            k = i - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k < 0 or states[k] != 0:
                continue
            if not (sql[k].isalnum() or sql[k] in ")]_"):
                continue
            start = _pull_primary_left(sql, states, k)
            if start > k:
                continue
            # duck's postfix ! binds LOOSER than arithmetic (pinned:
            # `1-3!` = factorial(-2) = 1, `2*-3!` = factorial(-6)) —
            # pull the full chain like a quantified comparison would
            start = _extend_arith_left(sql, states, start)
            operand = sql[start : k + 1]
            wm = re.fullmatch(r"[A-Za-z_]\w*", operand)
            if wm and operand.upper() in _ARITH_STOP_KEYWORDS | {
                "TRUE", "FALSE", "NULL", "EXISTS", "INTERVAL",
            }:
                continue  # `WHERE !x` prefix-NOT, not a postfix call
            hit = (start, i, operand)
            break
        if hit is None:
            return sql
        start, bang, operand = hit
        sql = (
            sql[:start]
            + f"duckdb_factorial({operand})"
            + sql[bang + 1 :]
        )


def _rewrite_duck_operators(sql: str) -> str:
    """Operator spellings DuckDB has and Spark lacks (or silently
    reinterprets):

    * ``a ^ b`` / ``a ** b`` → ``power(a, b)`` — Spark's ``^`` is XOR.
    * ``a // b`` → zero-guarded ``DIV`` — truncation matches DuckDB
      1.0 exactly (negatives included) and a zero divisor yields NULL
      instead of raising; exact 64-bit arithmetic preserved (r10).
      DuckDB's ``double // double`` is plain division — documented,
      DIV rejects doubles.
    * ``a / b`` → ``try_divide``, ``a % b`` → ``try_mod`` — DuckDB
      yields NULL on a zero divisor where ANSI Spark raises; identical
      types and results elsewhere (r10).
    * ``s ~ 'p'`` / ``s !~ 'p'`` → ``[NOT] RLIKE`` (RHS must be a
      string literal, keeping unary bitwise ``~`` intact).
    * ``j ->> 'k'`` → ``get_json_object(j, '$.k')`` (text result);
      ``j -> 'k'`` → ``json_extract_json(j, '$.k')`` (JSON result —
      r13 fuzz find: DuckDB's ``->``/``json_extract`` keep the JSON
      quotes on string values and render objects compactly, and a
      JSON null at the path extracts to SQL NULL; the path-walking
      UDF replays all three).  '$'-prefixed paths pass through;
      chained arrows nest through the loop.
    """
    # '->' first: '-' would otherwise parse as part of a number/minus
    def _arrow(left: str, right: str, m: re.Match) -> str:
        if right.startswith("'"):
            inner = right[1:-1]
            path = inner if inner.startswith("$") else "$." + inner
        else:
            # integer rhs = JSON array index (duck '[5,6,7] -> 1')
            path = f"$[{right}]"
        fn = "get_json_object" if m.group(1) else "json_extract_json"
        return f"{fn}({left}, '{path}')"

    sql = _rewrite_binary_op(
        sql, _JSON_ARROW_RE, _arrow, rhs_string_only=True,
        skip_lambda_lhs=True, rhs_int_ok=True,
    )
    # '^@' (DuckDB starts-with operator) BEFORE the POWER pass, which
    # would otherwise read its '^' as an exponent
    sql = _rewrite_binary_op(
        sql,
        _STARTS_WITH_OP_RE,
        lambda l, r, m: f"startswith({l}, {r})",
    )
    sql = _rewrite_binary_op(
        sql, _POWER_RE, lambda l, r, m: f"power({l}, {r})"
    )
    sql = _rewrite_binary_op(
        sql,
        _TILDE_RE,
        lambda l, r, m: f"{l} {'NOT ' if m.group(1) else ''}RLIKE {r}",
        rhs_string_only=True,
    )
    # s GLOB 'pat' (literal pattern): * → .*, ? → ., [...] classes
    # kept, everything else regex-escaped, anchored (r11 batch-21)
    sql = _rewrite_binary_op(
        sql,
        _GLOB_RE,
        lambda l, r, m: (
            f"{l} RLIKE '{_glob_to_regex(r[1:-1])}'"
        ),
        rhs_string_only=True,
    )
    # a // b: DuckDB (1.0) TRUNCATES like DIV but returns NULL on a
    # zero divisor where DIV raises — a CASE guard keeps DIV's exact
    # 64-bit arithmetic (a float detour would lose precision past
    # 2^53). DuckDB's double // stays plain division — documented,
    # DIV rejects doubles either way.
    sql = _rewrite_binary_op(
        sql,
        _INT_DIV_RE,
        lambda l, r, m: (
            f"(CASE WHEN ({r}) = 0 THEN NULL ELSE ({l}) DIV ({r}) END)"
        ),
        extend_mult_chain=True,
    )
    # a / b and a % b: DuckDB returns NULL on a zero divisor; ANSI
    # Spark raises — try_divide/try_mod keep types and results
    # identical elsewhere
    sql = _rewrite_binary_op(
        sql, _SLASH_RE, lambda l, r, m: f"try_divide({l}, {r})",
        extend_mult_chain=True,
    )
    sql = _rewrite_binary_op(
        sql, _PERCENT_RE, lambda l, r, m: f"try_mod({l}, {r})",
        extend_mult_chain=True,
    )
    return sql


_DATEISH = (
    r"(DATE\s*'[^']*'|current_date(?:\s*\(\s*\))?"
    r"|(?:[A-Za-z_][\w.]*|'[^']*')::DATE\b"
    r"|CAST\s*\([^()]*?\bAS\s+DATE\s*\))"
)
_DATE_MINUS_RE = re.compile(
    _DATEISH + r"\s*-\s*" + _DATEISH, re.IGNORECASE
)


def _rewrite_date_minus(sql: str) -> str:
    """DuckDB ``DATE - DATE`` yields INTEGER days; Spark yields a
    day-time INTERVAL — silently different type and arithmetic.  Only
    the textually-recognizable date forms are rewritten (DATE
    literals, ``current_date``, ``x::DATE``, simple ``CAST(… AS
    DATE)``); column-typed operands can't be seen from the text and
    stay native — that divergence surfaces loudly (interval vs int
    comparisons fail analysis), documented (r11 batch-16)."""
    while True:
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in _DATE_MINUS_RE.finditer(sql)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        sql = (
            sql[: m.start()]
            + f"datediff({m.group(1)}, {m.group(2)})"
            + sql[m.end() :]
        )


# r11 batch-20 statement edges
_LIMIT_PERCENT_RE = re.compile(
    r"\bLIMIT\s+\d+(?:\.\d+)?\s*%", re.IGNORECASE
)
# duck 'GROUP BY ()' = grand total; Spark rejects the empty list
_GROUP_BY_EMPTY_RE = re.compile(
    r"\bGROUP\s+BY\s*\(\s*\)", re.IGNORECASE
)
# duck typed literal 'BOOLEAN <str>'; Spark has no BOOLEAN literal form
_BOOLEAN_LITERAL_RE = re.compile(
    r"\bBOOLEAN\s+'([^']*)'", re.IGNORECASE
)

_DISTINCT_ON_RE = re.compile(r"\bDISTINCT\s+ON\s*\(", re.IGNORECASE)


def _rewrite_distinct_on(sql: str) -> str:
    """Postgres/DuckDB ``SELECT DISTINCT ON (keys) …`` → a QUALIFY
    ``row_number() = 1`` filter (the downstream QUALIFY pass turns it
    into a subquery): one row per key set, chosen by the query's own
    ORDER BY (DuckDB semantics) or arbitrarily when there is none.
    Works at any nesting depth — the QUALIFY pass this feeds rewrites
    every parenthesized subquery/CTE body too (r10)."""
    while True:
        states = _scan_states(sql)
        m = next(
            (
                m
                for m in _DISTINCT_ON_RE.finditer(sql)
                if states[m.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        open_paren = sql.index("(", m.start())
        end = _find_matching_close(sql, open_paren, states)
        if end == -1:
            return sql
        keys = sql[open_paren + 1 : end]
        # find this SELECT's ORDER BY at the same depth (may be absent)
        depth = 0
        order_at = None
        stop = len(sql)
        j = end + 1  # start AFTER the ON (…) group's closing paren
        while j < len(sql):
            if states[j] == 0:
                c = sql[j]
                if c in "([":
                    depth += 1
                elif c in ")]":
                    depth -= 1
                    if depth < 0:
                        stop = j
                        break
                elif depth == 0 and sql[j : j + 8].upper() == "ORDER BY":
                    order_at = j
                    break
            j += 1
        if order_at is not None:
            ob_states = _scan_states(sql)
            ob_end = stop
            d2 = 0
            k = order_at + 8
            while k < len(sql):
                if ob_states[k] == 0:
                    c = sql[k]
                    if c in "([":
                        d2 += 1
                    elif c in ")]":
                        d2 -= 1
                        if d2 < 0:
                            ob_end = k
                            break
                    elif d2 == 0 and re.match(
                        r"(LIMIT|OFFSET|FETCH)\b", sql[k:], re.IGNORECASE
                    ):
                        ob_end = k
                        break
                k += 1
            order = sql[order_at + 8 : ob_end].strip()
            qualify = (
                f" QUALIFY row_number() OVER (PARTITION BY {keys} "
                f"ORDER BY {order}) = 1 "
            )
            sql = (
                sql[: m.start()]
                + sql[end + 1 : order_at]
                + qualify
                + sql[order_at:]
            )
        else:
            insert_at = stop
            qualify = (
                f" QUALIFY row_number() OVER (PARTITION BY {keys} "
                f"ORDER BY (SELECT NULL)) = 1 "
            )
            sql = (
                sql[: m.start()]
                + sql[end + 1 : insert_at]
                + qualify
                + sql[insert_at:]
            )


_USING_SAMPLE_RE = re.compile(
    r"\bUSING\s+SAMPLE\s+(?:(?:bernoulli|system|reservoir)\s*\(\s*)?"
    r"(\d+(?:\.\d+)?)\s*(%|PERCENT|ROWS)?\s*\)?",
    re.IGNORECASE,
)


def _rewrite_using_sample(sql: str) -> str:
    """DuckDB ``USING SAMPLE n% | n ROWS`` → Spark ``TABLESAMPLE``."""
    states = _scan_states(sql)
    out = []
    last = 0
    for m in _USING_SAMPLE_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        num = m.group(1)
        unit = (m.group(2) or "ROWS").upper().replace("%", "PERCENT")
        out.append(sql[last : m.start()])
        out.append(f"TABLESAMPLE ({num} {unit})")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_STAR_REPLACE_RE = re.compile(r"\*\s+REPLACE\s*\(", re.IGNORECASE)


def _rewrite_star_replace(sql: str) -> str:
    """``* REPLACE (expr AS col, …)`` → ``* EXCEPT (col, …), expr AS
    col, …`` — values identical; the replaced columns move to the end
    of the row (Spark has no positional REPLACE; documented)."""
    while True:
        states = _scan_states(sql)
        m = next(
            (
                m
                for m in _STAR_REPLACE_RE.finditer(sql)
                if states[m.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        open_paren = sql.index("(", m.start() + 1)
        end = _find_matching_close(sql, open_paren, states)
        if end == -1:
            return sql
        items = _split_top_level_args(sql[open_paren + 1 : end])
        if not items:
            return sql  # an empty list is not the simple form either
        cols = []
        for it in items:
            am = re.search(r"\bAS\s+([\w`\"]+)\s*$", it, re.IGNORECASE)
            if am is None:
                return sql  # not the simple form; leave untouched
            cols.append(am.group(1))
        repl = (
            "* EXCEPT (" + ", ".join(cols) + "), "
            + ", ".join(items)
        )
        sql = sql[: m.start()] + repl + sql[end + 1 :]


def _fix_array_slice(args: list[str]) -> str | None:
    # DuckDB array_slice(l, begin, end) (1-based INCLUSIVE end) →
    # Spark slice(l, begin, end-begin+1) (start + LENGTH)
    if len(args) != 3:
        return None
    l, a, b = args
    return f"slice({l}, {a}, ({b}) - ({a}) + 1)"


def _mk_trim2(fn: str):
    # DuckDB ltrim/rtrim/trim/btrim(str, chars) → Spark's argument
    # order is REVERSED (trim(trimStr, str)) — a silent wrong answer,
    # not an error (r10: plain trim was missed when the r9 sweep fixed
    # ltrim/rtrim).  One-arg forms pass through.
    def fix(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        s, chars = args
        return f"{fn}({chars}, {s})"

    return fix


_BARE_FILTER_RE = re.compile(r"\bFILTER\s*\(", re.IGNORECASE)


def _normalize_bare_filter(sql: str) -> str:
    """DuckDB accepts ``agg(x) FILTER (cond)`` without the WHERE
    keyword; Spark's parser requires ``FILTER (WHERE cond)`` — insert
    it (r11 batch-16 probe).  Only the aggregate-clause form is
    touched: the previous non-space char must be the aggregate call's
    ``)`` (the filter() HOF never follows one)."""
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _BARE_FILTER_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            p = m.start() - 1
            while p >= 0 and sql[p].isspace():
                p -= 1
            if p < 0 or sql[p] != ")":
                continue
            j = m.end()
            while j < len(sql) and sql[j].isspace():
                j += 1
            if re.match(r"WHERE\b", sql[j:], re.IGNORECASE):
                continue
            hit = m.end()
            break
        if hit is None:
            return sql
        sql = sql[:hit] + "WHERE " + sql[hit:]


_FILTER_OVER_RE = re.compile(
    r"\bFILTER\s*\(\s*WHERE\b", re.IGNORECASE
)


def _rewrite_filter_over_window(sql: str) -> str:
    """``agg(e) FILTER (WHERE c) OVER (…)`` → ``agg(CASE WHEN c THEN e
    END) OVER (…)`` — Spark rejects FILTER on window aggregates
    (plain-aggregate FILTER is native and passes through).
    ``count(*)`` counts a CASE'd 1."""
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _FILTER_OVER_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            open_paren = sql.index("(", m.start())
            close = _find_matching_close(sql, open_paren, states)
            if close == -1:
                continue
            # must be followed by OVER
            after = close + 1
            while after < len(sql) and sql[after].isspace():
                after += 1
            if sql[after : after + 4].upper() != "OVER":
                continue
            # the aggregate call precedes FILTER
            k = m.start() - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k < 0 or sql[k] != ")":
                continue
            astart = _expr_start(sql, states, k + 1)
            agg = sql[astart : k + 1]
            am = re.match(r"([\w.]+)\s*\((.*)\)$", agg, re.DOTALL)
            if am is None:
                continue
            wm = re.match(
                r"\s*WHERE\b", sql[open_paren + 1 : close], re.IGNORECASE
            )
            cond = sql[open_paren + 1 + wm.end() : close].strip()
            fn, arg = am.group(1), am.group(2).strip()
            if arg in ("*", "1") and fn.lower() == "count":
                new_agg = f"count(CASE WHEN {cond} THEN 1 END)"
            else:
                new_agg = f"{fn}(CASE WHEN {cond} THEN {arg} END)"
            hit = (astart, close, new_agg)
            break
        if hit is None:
            return sql
        astart, close, new_agg = hit
        sql = sql[:astart] + new_agg + sql[close + 1 :]


_WINDOW_EXCLUDE_RE = re.compile(
    r"\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES)\b", re.IGNORECASE
)
_WINDOW_NO_OTHERS_RE = re.compile(
    r"\s*\bEXCLUDE\s+NO\s+OTHERS\b", re.IGNORECASE
)


def _parse_over_spec(spec: str):
    """Split a window spec (the inside of ``OVER (...)``) into
    (partition_text, order_text, frame_mode, frame_text) — any part
    may be None.  Keyword scan is top-level only, so function calls in
    the partition/order expressions don't confuse it."""
    def find(pat):
        found = _depth0_matches(spec, re.compile(pat, re.IGNORECASE))
        return found[0] if found else None

    pm = find(r"\bPARTITION\s+BY\b")
    om = find(r"\bORDER\s+BY\b")
    fm = find(r"\b(ROWS|RANGE|GROUPS)\b")
    ends = sorted(
        [m.start() for m in (om, fm) if m is not None] + [len(spec)]
    )
    part = None
    if pm is not None:
        stop = min(e for e in ends if e >= pm.end())
        part = spec[pm.end() : stop].strip()
    order = None
    if om is not None:
        stop = fm.start() if fm is not None else len(spec)
        order = spec[om.end() : stop].strip()
    mode = frame = None
    if fm is not None:
        mode = fm.group(1).upper()
        frame = spec[fm.end() :].strip()
    return part, order, mode, frame


def _bound_includes_current(bound: str, is_lower: bool):
    """Whether a frame bound admits offset 0 (the current row/peer
    value).  Returns True/False, or None when it cannot be decided
    statically (expression magnitudes)."""
    t = re.sub(r"\s+", " ", bound.strip()).upper()
    if t == "CURRENT ROW":
        return True
    if t == "UNBOUNDED PRECEDING":
        return True if is_lower else None  # as upper bound: never ≥0
    if t == "UNBOUNDED FOLLOWING":
        return True if not is_lower else False
    m = re.fullmatch(r"(\d+)(?:\.\d+)?\s+(PRECEDING|FOLLOWING)", t)
    if m:
        n, direction = int(m.group(1)), m.group(2)
        if direction == "PRECEDING":
            return True if is_lower else n == 0
        return n == 0 if is_lower else True
    # expression bound (interval, column ref): sign known, size not
    if t.endswith("PRECEDING"):
        return True if is_lower else None
    if t.endswith("FOLLOWING"):
        return None if is_lower else True
    return None


def _strip_order_direction(order_text: str) -> list[str]:
    """ORDER BY list → bare key expressions (ASC/DESC/NULLS dropped),
    for use as the peer-group partition keys."""
    keys = []
    for item in _split_top_level_args(order_text):
        e = re.sub(
            r"\s+(ASC|DESC)\s*$", "", item.strip(), flags=re.IGNORECASE
        )
        e = re.sub(
            r"\s+NULLS\s+(FIRST|LAST)\s*$", "", e, flags=re.IGNORECASE
        )
        e = re.sub(
            r"\s+(ASC|DESC)\s*$", "", e, flags=re.IGNORECASE
        )
        keys.append(e.strip())
    return keys


def _inline_named_exclude_windows(sql: str) -> str:
    """``WINDOW w AS (spec … EXCLUDE …)`` → inline ``OVER (spec …)``
    at each ``OVER w`` usage, so the main EXCLUDE rewrite sees the
    spec in place; definitions without EXCLUDE stay named (Spark
    supports WINDOW clauses natively).  A name defined by more than
    one WINDOW clause in the statement is ambiguous textually — the
    named error fires instead of guessing scopes."""
    for _ in range(16):  # each pass inlines one definition
        states = _scan_states(sql)
        defs = []  # (name, def_start, open, close, list_start, kw_start)
        for m in re.finditer(r"\bWINDOW\s+", sql, re.IGNORECASE):
            if states[m.start()] != 0:
                continue
            pos = m.end()
            first = True
            while True:
                dm = re.match(
                    r"\s*([A-Za-z_]\w*)\s+AS\s*\(", sql[pos:], re.IGNORECASE
                )
                if dm is None:
                    break
                op = pos + dm.end() - 1
                cl = _find_matching_close(sql, op, states)
                if cl == -1:
                    break
                defs.append(
                    (dm.group(1), pos + dm.start(1), op, cl, m.start(), first)
                )
                first = False
                nxt = cl + 1
                cm = re.match(r"\s*,", sql[nxt:])
                if cm is None:
                    break
                pos = nxt + cm.end()
        target = None
        for name, dstart, op, cl, kw, first in defs:
            spec = sql[op + 1 : cl]
            sstates = _scan_states(spec)
            if any(
                sstates[em.start()] == 0
                for em in _WINDOW_EXCLUDE_RE.finditer(spec)
            ):
                target = (name, dstart, op, cl, kw, first)
                break
        if target is None:
            return sql
        name, dstart, op, cl, kw, first = target
        if sum(1 for d in defs if d[0].lower() == name.lower()) > 1:
            raise ValueError(
                f"window frame EXCLUDE inside named window {name!r}: "
                "the name is defined by more than one WINDOW clause — "
                "inline the window spec into each OVER (...) instead"
            )
        spec = sql[op + 1 : cl].strip()
        # drop the definition from its WINDOW list (and the keyword if
        # it was the only definition)
        after = cl + 1
        cm = re.match(r"\s*,\s*", sql[after:])
        if cm is not None:
            cut_start, cut_end = dstart, after + cm.end()
        else:
            prev = sql[:dstart]
            pm = re.search(r",\s*$", prev)
            if pm is not None and not first:
                cut_start, cut_end = pm.start(), after
            else:
                cut_start, cut_end = kw, after
        sql = sql[:cut_start] + sql[cut_end:]
        # inline every OVER <name> usage
        states = _scan_states(sql)
        usage = re.compile(
            rf"\bOVER\s+{re.escape(name)}\b", re.IGNORECASE
        )
        out = []
        last = 0
        for um in usage.finditer(sql):
            if states[um.start()] != 0:
                continue
            out.append(sql[last : um.start()])
            out.append(f"OVER ({spec})")
            last = um.end()
        out.append(sql[last:])
        sql = "".join(out)
    return sql


def _rewrite_window_exclude(sql: str) -> str:
    """DuckDB window-frame ``EXCLUDE CURRENT ROW | GROUP | TIES``
    (DuckDB 1.0 accepts these with an explicit frame; Spark has no
    EXCLUDE) → windowed arithmetic over the same frame:

    - ``sum/count/avg … EXCLUDE CURRENT ROW`` (ROWS or RANGE):
      subtract the current row's contribution; NULL when nothing
      remains (SQL empty-set aggregate).
    - ``sum/count/avg … EXCLUDE GROUP | TIES`` (RANGE only): subtract
      the whole peer group's aggregate — in RANGE mode a frame that
      admits distance 0 always contains the ENTIRE peer group, so
      ``f() OVER (PARTITION BY part, order-keys)`` is exactly the
      in-frame peer contribution (TIES adds the current row back).
      ROWS mode can cut a peer group at the frame edge — statically
      undecidable, loud-unsupported.
    - ``min/max … EXCLUDE CURRENT ROW`` (ROWS only): least/greatest
      over the two side frames (Spark's least/greatest skip NULLs, so
      an empty side degrades correctly).
    - A frame that provably never contains the current row/peer group
      makes EXCLUDE a no-op — stripped.
    - ``EXCLUDE NO OTHERS`` is the SQL default — stripped here too so
      the bare-rewrite path (fuzzers, spark.sql callers) matches the
      engine gate.

    Named ``WINDOW w AS (… EXCLUDE …)`` definitions are inlined into
    their ``OVER w`` usages first (:func:`_inline_named_exclude_windows`).
    Unsupported combinations (other aggregates; GROUP/TIES under
    ROWS; undecidable expression bounds) raise the named error with a
    workaround."""
    if _WINDOW_EXCLUDE_RE.search(sql):
        sql = _inline_named_exclude_windows(sql)
    states0 = _scan_states(sql)
    out = []
    last = 0
    for m in _WINDOW_NO_OTHERS_RE.finditer(sql):
        if states0[m.start()] != 0:
            continue
        out.append(sql[last : m.start()])
        last = m.end()
    out.append(sql[last:])
    sql = "".join(out)
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _WINDOW_EXCLUDE_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            kind = re.sub(r"\s+", " ", m.group(1).upper())
            # innermost enclosing OVER ( … ) group
            over_open = over_close = -1
            for om in re.finditer(r"\bOVER\s*\(", sql, re.IGNORECASE):
                if states[om.start()] != 0:
                    continue
                op = om.end() - 1
                cl = _find_matching_close(sql, op, states)
                if cl != -1 and op < m.start() < cl:
                    if op > over_open:
                        over_open, over_close = op, cl
                        over_kw = om.start()
            if over_open == -1:
                raise ValueError(
                    f"window frame 'EXCLUDE {kind}' inside a named "
                    "WINDOW clause is not supported by Spark; inline "
                    "the window spec into the OVER (...) of each "
                    "function that uses it"
                )
            # the window-function call preceding OVER
            k = over_kw - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k < 0 or sql[k] != ")":
                raise ValueError(
                    f"window frame 'EXCLUDE {kind}': cannot locate the "
                    "window function call before OVER"
                )
            astart = _expr_start(sql, states, k + 1)
            agg = sql[astart : k + 1]
            am = re.match(r"([\w.]+)\s*\((.*)\)$", agg, re.DOTALL)
            if am is None:
                raise ValueError(
                    f"window frame 'EXCLUDE {kind}': cannot parse the "
                    f"window function call {agg!r}"
                )
            fn = am.group(1).lower()
            arg = am.group(2).strip()
            spec = sql[over_open + 1 : over_close]
            # drop the EXCLUDE clause from the spec
            rel = m.start() - (over_open + 1)
            spec_no_ex = (spec[:rel] + spec[rel + (m.end() - m.start()) :]).strip()
            new_expr = _build_exclude_expr(fn, arg, kind, spec_no_ex)
            hit = (astart, over_close, new_expr)
            break
        if hit is None:
            return sql
        astart, over_close, new_expr = hit
        sql = sql[:astart] + new_expr + sql[over_close + 1 :]


def _build_exclude_expr(
    fn: str, arg: str, kind: str, spec: str
) -> str:
    """The Spark expression replacing ``fn(arg) OVER (spec EXCLUDE
    kind)`` — see :func:`_rewrite_window_exclude` for the algebra."""
    supported = {"sum", "count", "avg", "min", "max"}
    named_err = (
        f"window frame 'EXCLUDE {kind}' is supported for "
        "sum/count/avg (ROWS or RANGE; GROUP/TIES need RANGE) and "
        "min/max (EXCLUDE CURRENT ROW under ROWS); for other "
        "aggregates subtract the excluded rows' contribution from a "
        "plain frame instead"
    )
    if fn not in supported:
        raise ValueError(named_err)
    part, order, mode, frame = _parse_over_spec(spec)
    if mode is None or frame is None or mode == "GROUPS":
        # DuckDB itself requires an explicit ROWS/RANGE frame before
        # EXCLUDE (and rejects GROUPS mode outright)
        raise ValueError(named_err)
    bm = re.match(
        r"^BETWEEN\s+(.+?)\s+AND\s+(.+)$", frame, re.IGNORECASE | re.DOTALL
    )
    if bm:
        lo_text, hi_text = bm.group(1).strip(), bm.group(2).strip()
    else:
        lo_text, hi_text = frame.strip(), "CURRENT ROW"
    lo_inc = _bound_includes_current(lo_text, is_lower=True)
    hi_inc = _bound_includes_current(hi_text, is_lower=False)
    if lo_inc is None or hi_inc is None:
        raise ValueError(
            f"window frame 'EXCLUDE {kind}': the frame bounds' "
            "inclusion of the current row cannot be decided "
            "statically; use literal ROWS offsets or CURRENT "
            "ROW/UNBOUNDED bounds"
        )
    base = f"OVER ({spec})"
    if not (lo_inc and hi_inc):
        # the frame never contains the current row; in RANGE mode the
        # peer group (same order value, distance 0) is out with it —
        # EXCLUDE is a no-op for every kind we accept here
        if mode == "ROWS" and kind != "CURRENT ROW":
            raise ValueError(named_err)
        return f"{fn}({arg}) {base}"
    is_star = fn == "count" and arg in ("*", "1")
    cur_cnt = (
        "1" if is_star else f"(CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END)"
    )
    cnt_base = f"count({'*' if is_star else arg}) {base}"
    if kind == "CURRENT ROW":
        if fn in ("min", "max"):
            if mode != "ROWS":
                raise ValueError(named_err)
            cmb = "least" if fn == "min" else "greatest"
            prefix = " ".join(
                p
                for p in (
                    f"PARTITION BY {part}" if part else "",
                    f"ORDER BY {order}" if order else "",
                )
                if p
            )
            sides = []
            if not re.fullmatch(
                r"0\s+(PRECEDING|FOLLOWING)|CURRENT\s+ROW",
                re.sub(r"\s+", " ", lo_text.upper()),
            ):
                sides.append(
                    f"{fn}({arg}) OVER ({prefix} ROWS BETWEEN "
                    f"{lo_text} AND 1 PRECEDING)"
                )
            if not re.fullmatch(
                r"0\s+(PRECEDING|FOLLOWING)|CURRENT\s+ROW",
                re.sub(r"\s+", " ", hi_text.upper()),
            ):
                sides.append(
                    f"{fn}({arg}) OVER ({prefix} ROWS BETWEEN "
                    f"1 FOLLOWING AND {hi_text})"
                )
            if not sides:
                # frame is exactly the current row: empty after EXCLUDE
                return f"(CASE WHEN FALSE THEN {fn}({arg}) {base} END)"
            if len(sides) == 1:
                return f"({sides[0]})"
            return f"{cmb}({sides[0]}, {sides[1]})"
        rem = f"({cnt_base} - {cur_cnt})"
        if fn == "count":
            return rem
        sum_expr = f"(sum({arg}) {base} - coalesce(({arg}), 0))"
        if fn == "sum":
            return f"(CASE WHEN {rem} = 0 THEN NULL ELSE {sum_expr} END)"
        return f"(CASE WHEN {rem} = 0 THEN NULL ELSE {sum_expr} / {rem} END)"
    # GROUP / TIES: the peer-group aggregate must equal the in-frame
    # peer contribution — guaranteed in RANGE mode only
    if mode != "RANGE":
        raise ValueError(named_err)
    if fn in ("min", "max"):
        raise ValueError(named_err)
    if not order:
        raise ValueError(named_err)
    peer_keys = _strip_order_direction(order)
    peer_part = ", ".join(
        ([part] if part else []) + peer_keys
    )
    peer = f"OVER (PARTITION BY {peer_part})"
    cnt_peer = f"count({'*' if is_star else arg}) {peer}"
    if kind == "GROUP":
        rem = f"({cnt_base} - {cnt_peer})"
        delta = f"coalesce(sum({arg}) {peer}, 0)"
        sum_expr = f"(sum({arg}) {base} - {delta})"
    else:  # TIES: peers out, current row back in
        rem = f"({cnt_base} - {cnt_peer} + {cur_cnt})"
        if not is_star:
            delta = (
                f"(coalesce(sum({arg}) {peer}, 0) - coalesce(({arg}), 0))"
            )
            sum_expr = f"(sum({arg}) {base} - {delta})"
    if fn == "count":
        return rem
    if fn == "sum":
        return f"(CASE WHEN {rem} = 0 THEN NULL ELSE {sum_expr} END)"
    return f"(CASE WHEN {rem} = 0 THEN NULL ELSE {sum_expr} / {rem} END)"


_ANY_ALL_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|ALL)\s*\(", re.IGNORECASE
)


def _rewrite_any_all_array(sql: str) -> str:
    """DuckDB quantified comparisons over ARRAYS: ``x = ANY(arr)`` →
    ``array_contains(arr, x)``; the general ``x <op> ANY|ALL(arr)`` →
    ``exists``/``forall`` lambdas.  Subquery operands (``ANY(SELECT
    …)``) pass through untouched."""
    while True:
        states = _scan_states(sql)
        hit = None
        for m in _ANY_ALL_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            open_paren = sql.rindex("(", m.start(), m.end())
            close = _find_matching_close(sql, open_paren, states)
            if close == -1:
                continue
            inner = sql[open_paren + 1 : close].strip()
            if re.match(r"SELECT\b", inner, re.IGNORECASE):
                continue  # subquery form: not the array sugar
            k = m.start() - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            lstart = _expr_start(sql, states, k + 1)
            left = sql[lstart : k + 1].strip()
            if not left:
                continue
            op = m.group(1)
            kind = m.group(2).upper()
            if op == "=" and kind == "ANY":
                # as-is: DuckDB's `= ANY(arr)` keeps SQL quantified
                # NULL semantics (absent + NULL element → NULL) —
                # exactly Spark's raw array_contains — so the
                # array_contains alias fixer (which imposes DuckDB's
                # list_contains absent→FALSE) must skip this emission.
                repl = f"array_contains{_AS_IS}({inner}, {left})"
            else:
                hof = "exists" if kind == "ANY" else "forall"
                repl = f"{hof}({inner}, __e -> {left} {op} __e)"
            hit = (lstart, close, repl)
            break
        if hit is None:
            return sql
        lstart, close, repl = hit
        sql = sql[:lstart] + repl + sql[close + 1 :]


_IGNORE_NULLS_IN_RE = re.compile(
    r"\s+(IGNORE|RESPECT)\s+NULLS\s*\)", re.IGNORECASE
)


def _rewrite_ignore_nulls_position(sql: str) -> str:
    """DuckDB puts ``IGNORE/RESPECT NULLS`` INSIDE the call parens
    (``last_value(x IGNORE NULLS)``); Spark wants it outside —
    move it across the closing paren."""
    states = _scan_states(sql)
    out = []
    last = 0
    for m in _IGNORE_NULLS_IN_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        out.append(sql[last : m.start()])
        out.append(f") {m.group(1).upper()} NULLS")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_WITH_HEAD_RE = re.compile(r"^\s*WITH\s+(RECURSIVE\s+)?", re.IGNORECASE)


def with_prologue(sql: str) -> str:
    """Return the leading ``WITH …`` CTE prologue of *sql* — through the
    closing paren of the final CTE body — or ``""`` when the statement
    has none.  Quote-aware via ``_scan_states``.  Used by the engine's
    ASOF cardinality guard to build bounded ``COUNT`` probes that can
    resolve the statement's own CTE names."""
    m = _WITH_HEAD_RE.match(sql)
    if not m:
        return ""
    states = _scan_states(sql)
    depth = 0
    i = m.end()
    n = len(sql)
    while i < n:
        if states[i] == 0:
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    j = i + 1
                    while j < n and sql[j].isspace():
                        j += 1
                    if j < n and sql[j] == ",":
                        # next CTE definition follows
                        i = j + 1
                        continue
                    if sql[j : j + 3].upper().rstrip().endswith("AS") and re.match(
                        r"AS\b", sql[j : j + 3], re.IGNORECASE
                    ):
                        # "name (cols) AS (…)" — that paren group was a
                        # column list, the body is still ahead
                        i = j + 2
                        continue
                    return sql[: i + 1]
        i += 1
    return ""


def _escape_backslashes_in_literals(sql: str) -> str:
    """DuckDB (like Postgres) treats backslash LITERALLY inside
    ``'...'``; Spark's parser treats it as an escape. Doubling every
    backslash inside single-quoted literals preserves DuckDB semantics
    — ``'\\d+'`` reaches the regex engine as ``\\d+``, not ``d+``.
    Runs LAST so literals the rewriter itself injects are covered
    exactly once."""
    if "\\" not in sql:
        return sql
    states = _scan_states(sql)
    return "".join(
        "\\\\" if c == "\\" and states[i] == 1 else c
        for i, c in enumerate(sql)
    )


_RANK_OVER_EMPTY_RE = re.compile(
    r"\b(row_number|rank|dense_rank|percent_rank|cume_dist|ntile)"
    r"(\s*\([^()]*\)\s+OVER\s*\()\s*(\))",
    re.IGNORECASE,
)
# same rank family over PARTITION BY … with NO ORDER BY (r11):
# DuckDB ranks in arbitrary order, Spark demands an ORDER BY —
# inject the same (SELECT NULL) constant order.  The window body must
# contain no parens (keeps simple partition keys; expression keys
# with calls fall through untouched) and no ORDER/ROWS/RANGE keyword.
_RANK_OVER_PARTITION_RE = re.compile(
    r"\b(row_number|rank|dense_rank|percent_rank|cume_dist|ntile)"
    r"(\s*\([^()]*\)\s+OVER\s*\(\s*PARTITION\s+BY\s+[^()]*?)(\))",
    re.IGNORECASE,
)


_LAMBDA_IDX_FN_RE = re.compile(
    r"\b(transform|filter|list_transform|list_filter|array_transform)"
    r"\s*\(",
    re.IGNORECASE,
)
_TWO_PARAM_LAMBDA_RE = re.compile(
    r"^\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)\s*->\s*(.*)$",
    re.DOTALL,
)


def _rewrite_lambda_index_base(sql: str) -> str:
    """DuckDB's optional second lambda parameter in
    ``list_transform``/``list_filter`` is the **1-based** element
    index; Spark's ``transform``/``filter`` second parameter is
    **0-based**.  Same syntax, silently different values — rewrite the
    body so every use of the index reads ``(i + 1)``.  The parameter
    is renamed to ``__ix1b_<name>`` so the pass never re-applies to
    its own output."""
    for _ in range(64):
        states = _scan_states(sql)
        changed = False
        for m in _LAMBDA_IDX_FN_RE.finditer(sql):
            if states[m.start()] != 0:
                continue
            close = _find_matching_close(sql, m.end() - 1, states)
            if close == -1:
                continue
            args = _split_top_level_args(sql[m.end() : close])
            if len(args) != 2:
                continue
            lm = _TWO_PARAM_LAMBDA_RE.match(args[1].strip())
            if lm is None:
                continue
            elem, idx, body = lm.group(1), lm.group(2), lm.group(3)
            if idx.startswith("__ix1b_"):
                continue  # already rewritten
            fresh = f"__ix1b_{idx}"
            body_states = _scan_states(body)
            body2 = re.sub(
                rf"\b{re.escape(idx)}\b",
                lambda bm: bm.group(0)
                if body_states[bm.start()] != 0
                else f"({fresh} + 1)",
                body,
            )
            new = (
                f"{sql[m.start(1) : m.end(1)]}({args[0].strip()}, "
                f"({elem}, {fresh}) -> {body2})"
            )
            sql = sql[: m.start()] + new + sql[close + 1 :]
            changed = True
            break
        if not changed:
            return sql
    return sql


def _order_rank_windows(sql: str) -> str:
    """rank-family ``OVER ()`` and ``OVER (PARTITION BY …)`` without an
    ORDER BY get ``ORDER BY (SELECT NULL)`` — DuckDB allows unordered
    ranking windows, Spark requires an ORDER BY (aggregates over
    ``OVER ()`` are legal Spark and are left alone: adding an ORDER BY
    would shrink their frame)."""
    sql = _sub_in_code(
        _RANK_OVER_EMPTY_RE, r"\1\2ORDER BY (SELECT NULL)\3", sql
    )
    return _sub_in_code(
        _RANK_OVER_PARTITION_RE,
        lambda m: m.group(0)
        if re.search(
            r"\b(ORDER|ROWS|RANGE|GROUPS)\b", m.group(2), re.IGNORECASE
        )
        else f"{m.group(1)}{m.group(2)} ORDER BY (SELECT NULL){m.group(3)}",
        sql,
    )


_INTERVAL_PRODUCER_RE = re.compile(
    r"^(?:INTERVAL\b|make_(?:dt_|ym_)?interval\s*\(|to_(?:seconds|"
    r"minutes|hours|days|weeks|months|quarters|years|decades|"
    r"centuries|millennia|milliseconds|microseconds)\s*\()",
    re.IGNORECASE,
)


def _fix_date_add(args: list[str]) -> str | None:
    # DuckDB's interval form date_add(x, INTERVAL …): an interval 2nd
    # arg (literal or producer call, batch-26) → '+'; Spark's own
    # integer-day form passes through
    if len(args) != 2 or not _INTERVAL_PRODUCER_RE.match(args[1].strip()):
        return None
    return f"({args[0].strip()} + {args[1].strip()})"


def _fix_regexp_extract(args: list[str]) -> str | None:
    # 2-arg: DuckDB's default group is the WHOLE MATCH, Spark's is 1
    if len(args) == 2:
        return f"regexp_extract({args[0].strip()}, {args[1].strip()}, 0)"
    if len(args) == 3:
        # name-list form (batch-22): regexp_extract(s, p, ['a','b'])
        # → STRUCT with one field per capture group
        am = re.match(
            r"^(?:\[|array\s*\()(.*?)[\])]$",
            args[2].strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if am is None:
            return None
        names = [n.strip() for n in _split_top_level_args(am.group(1))]
        if not names or not all(
            n.startswith("'") and n.endswith("'") for n in names
        ):
            return None
        s, p = args[0].strip(), args[1].strip()
        fields = ", ".join(
            f"{n}, regexp_extract({s}, {p}, {i + 1})"
            for i, n in enumerate(names)
        )
        return f"named_struct({fields})"
    return None


_INTERVAL_LIT_RE = re.compile(
    r"^INTERVAL\s+'?(\d+)'?\s+(SECOND|MINUTE|HOUR|DAY|WEEK)S?$",
    re.IGNORECASE,
)

_UNIT_SECONDS = {
    "SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400,
    "WEEK": 604800,
}

#: time_bucket's alignment origin (TimescaleDB/DuckDB: 2000-01-03
#: 00:00:00 UTC, a Monday, so week buckets start on Mondays)
_TIME_BUCKET_ORIGIN = 946857600


_EXTRACT_COMPAT_RE = re.compile(
    r"(epoch|dow|isodow|microseconds?|milliseconds?"
    r"|decades?|century|centuries|millenniums?|millennia|millennium"
    r"|seconds?|secs?|us|ms|s)\s+FROM\b",
    re.IGNORECASE,
)
#: DuckDB part-name aliases → the canonical spelling the compat maps use
_EXTRACT_FIELD_ALIASES = {
    "microsecond": "microseconds", "us": "microseconds",
    "millisecond": "milliseconds", "ms": "milliseconds",
    "seconds": "second", "sec": "second", "secs": "second",
    "s": "second",
    "decades": "decade", "centuries": "century",
    "millenniums": "millennium", "millennia": "millennium",
}


def _bit_cast_guard(e: str) -> str:
    """``expr::BIT`` validation (r13): BIT is emulated as a '0'/'1'
    string; any other character raises DuckDB's exact conversion
    error, NULL passes through."""
    bad = f"substring(translate({e}, '01', ''), 1, 1)"
    return (
        f"(CASE WHEN ({e}) IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN length(translate({e}, '01', '')) = 0 THEN ({e}) "
        f"ELSE raise_error(concat('Conversion Error: Invalid character "
        f"encountered in string -> bit conversion: ''', {bad}, "
        f"'''')) END)"
    )


_BIT_CAST_RE = re.compile(r"::\s*BIT\b|\bAS\s+BIT\s*\)", re.IGNORECASE)


def _rewrite_bit_casts(sql: str) -> str:
    """Every remaining ``expr::BIT`` / ``CAST(expr AS BIT)`` →
    :func:`_bit_cast_guard` (r13).  Runs AFTER the function fixers so
    their textual '::BIT' markers have already dispatched the
    polymorphic bit_count/bit_length/octet_length forms."""
    while True:
        states = _scan_states(sql)
        m = next(
            (
                mm
                for mm in _BIT_CAST_RE.finditer(sql)
                if states[mm.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        if m.group(0).lstrip().upper().startswith("AS"):
            # CAST(expr AS BIT): locate the matching CAST( open paren
            close = m.end() - 1
            open_pos = _find_matching_open(sql, close, states)
            if open_pos == -1:
                return sql
            cm = re.search(
                r"(?:TRY_)?CAST\s*\($", sql[: open_pos + 1],
                re.IGNORECASE,
            )
            if cm is None:
                return sql
            inner = sql[open_pos + 1 : m.start()].strip()
            sql = (
                sql[: cm.start()]
                + _bit_cast_guard(inner)
                + sql[m.end() :]
            )
            continue
        # expr::BIT — pull the primary operand left
        k = m.start() - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        if k < 0:
            return sql
        start = _pull_primary_left(sql, states, k)
        if start > k:
            return sql
        operand = sql[start : k + 1]
        sql = sql[:start] + _bit_cast_guard(operand) + sql[m.end() :]


# ---------------------------------------------------------------------------
# Call fixers: one function per DuckDB call form, keyed by name in
# _CALL_FIXERS.  A fixer gets the call's argument texts (already
# rewritten) and returns the Spark replacement, or None to keep the call.
# ---------------------------------------------------------------------------

def _fix_skew(args: list[str]) -> str | None:
    # DuckDB's skewness/kurtosis are bias-corrected SAMPLE statistics,
    # Spark's are population: G1 = g1·√(n(n−1))/(n−2) here and
    # G2 = (n−1)/((n−2)(n−3))·((n+1)·g2 + 6) in _fix_kurt.
    # try_divide: n ≤ 2 is NULL in DuckDB where a bare '/' would
    # raise ANSI DIVIDE_BY_ZERO (r11 aggregate fuzzer)
    if len(args) != 1:
        return None
    e = args[0].strip()
    n = f"count({e})"
    return (
        f"try_divide(skewness({e}) * sqrt({n} * ({n} - 1)), "
        f"{n} - 2)"
    )


def _fix_kurt(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    e = args[0].strip()
    n = f"count({e})"
    return (
        f"(try_divide({n} - 1, ({n} - 2) * ({n} - 3)) * "
        f"(({n} + 1) * kurtosis({e}) + 6))"
    )


def _fix_date_sub3(args: list[str]) -> str | None:
    # 3-arg date_sub('part', a, b) → timestampdiff (complete units,
    # signed); Spark's own 2-arg date_sub passes through
    if len(args) != 3:
        return None
    part = args[0].strip()
    if not (part.startswith("'") and part.endswith("'")):
        return None
    return (
        f"timestampdiff({part[1:-1].upper()}, {args[1].strip()}, "
        f"{args[2].strip()})"
    )


def _fix_time_bucket(args: list[str]) -> str | None:
    # time_bucket(INTERVAL n unit, ts), fixed-width units → epoch
    # arithmetic aligned to the 2000-01-03 origin (TimescaleDB
    # semantics); month-width buckets pass through
    if len(args) != 2:
        return None
    m = _INTERVAL_LIT_RE.match(args[0].strip())
    if m is None:
        return None
    secs = int(m.group(1)) * _UNIT_SECONDS[m.group(2).upper()]
    if secs <= 0:
        return None
    ts = args[1].strip()
    o = _TIME_BUCKET_ORIGIN
    # pmod, not DIV: DIV truncates toward zero, so timestamps
    # BEFORE the 2000-01-03 origin rounded toward the origin
    # instead of flooring to the bucket start (r12 temporal fuzz
    # find: 1969-07-20 20:17:40 bucketed to 20:20 instead of
    # 20:15).  pmod's non-negative remainder floors for any sign.
    return (
        f"timestamp_seconds(unix_timestamp({ts}) - "
        f"pmod(unix_timestamp({ts}) - {o}, {secs}))"
    )


def _fix_rex_all(args: list[str]) -> str | None:
    # 2-arg: DuckDB's default group is the whole match; Spark's
    # group 1 errors on group-less patterns
    if len(args) != 2:
        return None
    return (
        f"regexp_extract_all({args[0].strip()}, {args[1].strip()}, 0)"
    )

# ---- batch-22 fixers (r11 third probe, 212 cases) ----


def _fix_log(args: list[str]) -> str | None:
    # DuckDB's 1-arg log() is LOG BASE 10; Spark's is ln —
    # a silent numeric wrong answer.  2-arg log(b, x) agrees.
    if len(args) != 1:
        return None
    return f"log10({args[0].strip()})"


def _fix_list_contains(args: list[str]) -> str | None:
    # DuckDB: FALSE when absent even if the list has NULLs (Spark's
    # array_contains yields NULL there); NULL when either the list
    # or the needle is NULL.  Null-safe-equality exists() instead
    # of array_contains: the lambda's <=> coerces an untyped NULL
    # literal needle (array_contains rejects it at analysis) and
    # NULL elements compare FALSE, matching DuckDB's absent→FALSE.
    if len(args) != 2:
        return None
    l, v = args[0].strip(), args[1].strip()
    return (
        f"(CASE WHEN ({l}) IS NULL OR ({v}) IS NULL THEN "
        f"CAST(NULL AS BOOLEAN) "
        f"ELSE exists({l}, __lc_e -> __lc_e <=> ({v})) END)"
    )


def _fix_sha256(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"sha2({args[0].strip()}, 256)"


def _fix_age(args: list[str]) -> str | None:
    # DuckDB age(): symbolic year/month/day interval — lowered
    # onto the duckdb_age compat UDF which renders DuckDB's
    # VARCHAR form (r12; divergence: VARCHAR, not INTERVAL).  The
    # 1-arg form measures from the current timestamp (DuckDB uses
    # the transaction timestamp, not current_date).
    if len(args) == 1:
        return (
            f"duckdb_age(CAST(now() AS TIMESTAMP), "
            f"CAST({args[0].strip()} AS TIMESTAMP))"
        )
    if len(args) == 2:
        return (
            f"duckdb_age(CAST({args[0].strip()} AS TIMESTAMP), "
            f"CAST({args[1].strip()} AS TIMESTAMP))"
        )
    return None


def _fix_struct_insert(args: list[str]) -> str | None:
    # struct_insert(s, n := e, …): append fields to a struct.  Two
    # statically-resolvable shapes (r12): an identifier/field-path
    # base expands via Spark's struct-star (`struct(s.*, e AS n)`),
    # a named_struct(…) literal base merges textually.  Anything
    # else passes through to a loud Spark error (documented).
    # Divergence: DuckDB raises on a duplicate field name; the
    # star expansion would emit a duplicate-named field instead.
    if len(args) < 2:
        return None
    base = args[0].strip()
    fields = []
    for a in args[1:]:
        mm = re.match(
            r'^\s*([A-Za-z_][A-Za-z0-9_]*|"[^"]+")\s*:=\s*(.+)$',
            a.strip(),
            re.DOTALL,
        )
        if not mm:
            return None
        fields.append((mm.group(1).strip('"'), mm.group(2).strip()))
    if re.match(
        r'^(?:[A-Za-z_][A-Za-z0-9_]*|"[^"]+")'
        r'(?:\.(?:[A-Za-z_][A-Za-z0-9_]*|"[^"]+"))*$',
        base,
    ):
        tail = ", ".join(f"{e} AS `{n}`" for n, e in fields)
        return f"struct({base}.*, {tail})"
    if re.match(r"named_struct\s*\(", base, re.IGNORECASE) and (
        base.endswith(")")
    ):
        inner = base[base.index("(") + 1 : -1].strip()
        tail = ", ".join(f"'{n}', {e}" for n, e in fields)
        return (
            f"named_struct({inner}, {tail})"
            if inner
            else f"named_struct({tail})"
        )
    return None


def _fix_favg(args: list[str]) -> str | None:
    # Kahan-compensated forms return DOUBLE in DuckDB regardless of
    # input type (avg over DECIMAL stays DECIMAL in Spark)
    if len(args) != 1:
        return None
    return f"avg(CAST({args[0].strip()} AS DOUBLE))"


def _fix_fsum(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"sum(CAST({args[0].strip()} AS DOUBLE))"


def _fix_kurtosis_pop(args: list[str]) -> str | None:
    # DuckDB kurtosis_pop = population excess kurtosis = Spark's
    # kurtosis exactly
    if len(args) != 1:
        return None
    return f"kurtosis({args[0].strip()})"


def _fix_timezone_fn(args: list[str]) -> str | None:
    # timezone(tz, ts): interpret the naive ts in tz, render in the
    # session zone (UTC) — to_utc_timestamp semantics
    if len(args) != 2:
        return None
    return (
        f"to_utc_timestamp({args[1].strip()}, {args[0].strip()})"
    )


def _fix_epoch_fn(args: list[str]) -> str | None:
    # DuckDB epoch(ts) → DOUBLE seconds WITH the fraction
    # (unix_timestamp truncates — r12 temporal fuzz find).
    if len(args) != 1:
        return None
    a = args[0].strip()
    return f"(unix_micros(CAST(({a}) AS TIMESTAMP)) / 1000000.0)"


def _fix_epoch_ms_poly(args: list[str]) -> str | None:
    # epoch_ms is overloaded: BIGINT → TIMESTAMP, TIMESTAMP →
    # BIGINT ms.  Integer literals dispatch statically; everything
    # else is treated as a timestamp, CAST first so DATE-typed
    # operands (date_trunc('month', …) returns DATE, r11) resolve
    # (r12 temporal fuzz find).
    if len(args) != 1:
        return None
    a = args[0].strip()
    if re.fullmatch(r"-?\d+", a):
        return f"timestamp_millis({a})"
    return f"unix_millis(CAST(({a}) AS TIMESTAMP))"


def _fix_epoch_us_poly(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    a = args[0].strip()
    if re.fullmatch(r"-?\d+", a):
        return f"timestamp_micros({a})"
    return f"unix_micros(CAST(({a}) AS TIMESTAMP))"


def _fix_hash_fn(args: list[str]) -> str | None:
    # DuckDB hash() returns UBIGINT (non-negative); Spark's hash()
    # is 32-bit.  Values are engine-specific either way (nobody
    # gets cross-engine hash equality) — what code relies on is
    # hash(x) % N staying non-negative and 64-bit-distributed.
    if not args:
        return None
    inner = ", ".join(a.strip() for a in args)
    return f"(xxhash64({inner}) & 9223372036854775807)"


def _fix_typeof(args: list[str]) -> str | None:
    # Spark type names → DuckDB spellings via the compat UDF
    if len(args) != 1:
        return None
    return f"duckdb_typename(typeof({args[0].strip()}))"


def _fix_strftime_computed(args: list[str]) -> str | None:
    # %V/%G/%u/%w/%U/%W/%n have no Spark pattern letters (week-
    # based Java fields are disabled in Spark 3+) — split the
    # format into date_format chunks + computed expressions,
    # concat'd back together (batch-25)
    if len(args) != 2:
        return None
    e = args[0].strip()
    fmt = args[1].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        return None
    inner = fmt[1:-1]
    computed = {
        "%V": f"lpad(CAST(weekofyear({e}) AS STRING), 2, '0')",
        "%G": f"CAST(extract(YEAROFWEEK FROM {e}) AS STRING)",
        "%u": f"CAST(weekday({e}) + 1 AS STRING)",
        "%w": f"CAST(dayofweek({e}) - 1 AS STRING)",
        "%U": (
            f"lpad(CAST((dayofyear({e}) + 6 - (dayofweek({e}) - 1))"
            f" DIV 7 AS STRING), 2, '0')"
        ),
        "%W": (
            f"lpad(CAST((dayofyear({e}) + 6 - weekday({e}))"
            f" DIV 7 AS STRING), 2, '0')"
        ),
        "%n": (
            f"lpad(CAST(pmod(unix_micros(CAST({e} AS TIMESTAMP)), "
            f"1000000) * 1000 AS STRING), 9, '0')"
        ),
    }
    if not any(c in inner for c in computed):
        return None
    parts: list[str] = []
    buf = ""
    i = 0
    while i < len(inner):
        two = inner[i : i + 2]
        if two in computed:
            if buf:
                parts.append(
                    f"date_format({e}, '{buf}')"
                    if "%" in buf
                    else f"'{buf}'"
                )
                buf = ""
            parts.append(computed[two])
            i += 2
        elif two == "%%":
            buf += "%%"
            i += 2
        else:
            buf += inner[i]
            i += 1
    if buf:
        parts.append(
            f"date_format({e}, '{buf}')" if "%" in buf else f"'{buf}'"
        )
    return "concat(" + ", ".join(parts) + ")"


def _fix_strptime_list(args: list[str]) -> str | None:
    # strptime(s, [f1, f2, …]): DuckDB tries each format in order
    # (batch-25) → coalesce of try_to_timestamp attempts; a
    # no-format-matches input is NULL here vs DuckDB's error
    # (documented)
    if len(args) != 2:
        return None
    am = re.match(
        r"^(?:\[|array\s*\()(.*?)[\])]$",
        args[1].strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if am is None:
        return None
    fmts = [f.strip() for f in _split_top_level_args(am.group(1))]
    if not fmts or not all(
        f.startswith("'") and f.endswith("'") for f in fmts
    ):
        return None
    s = args[0].strip()
    attempts = ", ".join(
        f"try_to_timestamp({s}, {f})" for f in fmts
    )
    return f"coalesce({attempts})"

# ---- batch-26 alias-audit fixers (duckdb_functions() diff) ----


def _mk_argminmax(pick: str):
    # DuckDB arg_max/max_by SKIP rows whose ARG is NULL (and rows
    # whose key is NULL); Spark's max_by returns the NULL arg
    # (r11 aggregate fuzzer) — NULLing the key on NULL args makes
    # Spark skip them the same way
    def fix(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        a, v = args[0].strip(), args[1].strip()
        return (
            f"{pick}({a}, "
            f"CASE WHEN ({a}) IS NOT NULL THEN {v} END)"
        )

    return fix


def _fix_date_trunc_type(args: list[str]) -> str | None:
    # DuckDB's date_trunc returns DATE (not midnight TIMESTAMP)
    # for day-or-coarser parts — statically known from the part
    # literal (r11 date fuzzer)
    if len(args) != 2:
        return None
    p = args[0].strip()
    if not (p.startswith("'") and p.endswith("'")):
        return None
    if p[1:-1].lower() not in (
        "day", "week", "month", "quarter", "year", "decade",
        "century", "millennium", "isoyear",
    ):
        return None
    return (
        f"CAST(date_trunc({p}, {args[1].strip()}) AS DATE)"
    )


def _fix_count_star(args: list[str]) -> str | None:
    if args and any(a.strip() for a in args):
        return None
    return "count(*)"


def _fix_sem(args: list[str]) -> str | None:
    # standard error of the mean — DuckDB uses the POPULATION
    # stddev over √n (pinned: sem([1,2,4]) = 0.720082…)
    if len(args) != 1:
        return None
    e = args[0].strip()
    return f"(stddev_pop({e}) / sqrt(count({e})))"


def _fix_constant_or_null(args: list[str]) -> str | None:
    # constant_or_null(v, x): v unless x IS NULL
    if len(args) != 2:
        return None
    v, x = args[0].strip(), args[1].strip()
    return f"(CASE WHEN ({x}) IS NULL THEN NULL ELSE ({v}) END)"


def _fix_reservoir_quantile(args: list[str]) -> str | None:
    # approximate by contract — percentile_approx, sample-size
    # argument dropped
    if len(args) not in (2, 3):
        return None
    return (
        f"percentile_approx({args[0].strip()}, {args[1].strip()})"
    )


def _fix_julian(args: list[str]) -> str | None:
    # julian day number: unix days + 2440588 (midnight = .0,
    # pinned against DuckDB 1.0)
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"(unix_micros(CAST({e} AS TIMESTAMP)) / 86400000000.0 "
        f"+ 2440588.0)"
    )


def _fix_epoch_ns(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"(unix_micros({args[0].strip()}) * 1000)"


def _fix_era(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"(CASE WHEN year({args[0].strip()}) > 0 THEN 1 ELSE 0 END)"


def _mk_const_fn(value: str):
    # functions that are a session constant here (tz pinned UTC)
    def fix(args: list[str]) -> str | None:
        return value if len(args) == 1 else None

    return fix


def _fix_decade_fn(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"(year({args[0].strip()}) DIV 10)"


def _fix_millennium_fn(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"(((year({args[0].strip()}) - 1) DIV 1000) + 1)"


def _fix_microsecond_fn(args: list[str]) -> str | None:
    # µs within the MINUTE, like date_part('microseconds')
    if len(args) != 1:
        return None
    e = args[0].strip()
    return f"pmod(unix_micros(CAST({e} AS TIMESTAMP)), 60000000)"


def _fix_millisecond_fn(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"(pmod(unix_micros(CAST({e} AS TIMESTAMP)), 60000000) "
        f"DIV 1000)"
    )


def _fix_divide_fn(args: list[str]) -> str | None:
    # DuckDB's divide(a, b) is the // operator (integer DIV on
    # integers), not float division
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    return (
        f"(CASE WHEN ({b}) = 0 THEN NULL ELSE ({a}) DIV ({b}) END)"
    )


def _mk_binop_fn(op: str):
    def fix(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        return f"(({args[0].strip()}) {op} ({args[1].strip()}))"

    return fix


def _fix_grouping_multi(args: list[str]) -> str | None:
    # DuckDB's grouping(a, b, …) returns the combined bitmask;
    # Spark splits that into grouping_id(a, b, …) (batch-24,
    # same bit order — high bit = first argument)
    if len(args) < 2:
        return None
    return f"grouping_id({', '.join(a.strip() for a in args)})"


def _fix_printf_args(args: list[str]) -> str | None:
    # Spark's format_string/printf rejects DECIMAL for %f/%d and
    # bare decimal literals parse as DECIMAL — suffix them to
    # DOUBLE (batch-22; expression-nested literals are covered by
    # the division pass, bare value args were not)
    changed = False
    out = [args[0].strip()] if args else []
    for a in args[1:]:
        a = a.strip()
        if re.fullmatch(r"-?\d+\.\d+", a):
            out.append(a + "D")
            changed = True
        else:
            out.append(a)
    if not changed:
        return None
    return f"format_string({', '.join(out)})"


def _fix_format(args: list[str]) -> str | None:
    # fmt-style format('{} …', args…) → format_string('%s …', …)
    if not args:
        return None
    fmt = args[0].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        return None
    inner = fmt[1:-1]
    if "%" in inner:
        return None  # printf-style text: not the brace form
    # fmt-style slots → printf: '{}' → %s, '{:.2f}' → %.2f,
    # '{:d}' → %d, '{:>8}'-style alignment unsupported (r11
    # batch-16 extends the r9 plain-{} subset)
    out_parts: list[str] = []
    slots: list[str] = []  # per-slot cast ('' = none)
    pos = 0
    ok = True
    for sm in re.finditer(r"\{([^{}]*)\}", inner):
        out_parts.append(inner[pos : sm.start()])
        spec = sm.group(1)
        if spec == "":
            out_parts.append("%s")
            slots.append("")
            pos = sm.end()
            continue
        # ':[0][width][.prec][,][dfxXos]' (batch-22 widens the
        # batch-16 subset; alignment/fill specs still bail)
        gm = re.fullmatch(
            r":(0?)(\d*)(?:\.(\d+))?(,?)([dfxXos]?)", spec
        )
        if gm is None:
            ok = False
            break
        zero, width, prec, comma, conv = gm.groups()
        if comma and conv in ("", "d"):
            # '{:,}' → Java's grouped decimal
            out_parts.append(f"%{zero}{width},d")
            slots.append("BIGINT")
        elif conv == "d" or (conv == "" and (zero or width)):
            out_parts.append(f"%{zero}{width}d")
            slots.append("BIGINT")
        elif conv == "f":
            out_parts.append(
                f"%{zero}{width}.{prec if prec else '6'}f"
            )
            slots.append("DOUBLE")
        elif conv in ("x", "X", "o"):
            out_parts.append(f"%{zero}{width}{conv}")
            slots.append("BIGINT")
        elif conv == "s" or conv == "":
            if prec or comma:
                ok = False
                break
            # fmt left-aligns strings by default; Java '%Ns'
            # right-aligns — '-' flips it
            out_parts.append(f"%-{width}s" if width else "%s")
            slots.append("")
        else:
            ok = False
            break
        pos = sm.end()
    if not ok:
        return None
    out_parts.append(inner[pos:])
    converted = "".join(out_parts)
    if re.search(r"\{|\}", converted):
        return None  # stray braces: leave for the user to see
    vals = [a.strip() for a in args[1:]]
    cast_vals = [
        f"CAST({v} AS {t})" if t and i < len(slots) else v
        for i, (v, t) in enumerate(
            zip(vals, slots + [""] * len(vals))
        )
    ]
    rest = ", ".join(cast_vals)
    return (
        f"format_string('{converted}'"
        + (f", {rest}" if rest else "")
        + ")"
    )


def _fix_to_base(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    return f"conv({args[0].strip()}, 10, {args[1].strip()})"


def _fix_dayname(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"date_format({args[0].strip()}, 'EEEE')"


def _fix_monthname(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"date_format({args[0].strip()}, 'MMMM')"


def _fix_yearweek(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    e = args[0].strip()
    # DuckDB: ISO year*100 + ISO week
    return f"(extract(YEAROFWEEK FROM {e}) * 100 + weekofyear({e}))"


def _fix_list_has_all(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    l, sub = args[0].strip(), args[1].strip()
    return f"(size(array_except({sub}, {l})) = 0)"


def _fix_struct_pack(args: list[str]) -> str | None:
    pairs = []
    for a in args:
        pm = re.match(r"\s*(\w+)\s*:=\s*(.+)$", a, re.DOTALL)
        if pm is None:
            return None
        pairs.append(f"'{pm.group(1)}', {pm.group(2).strip()}")
    return "named_struct(" + ", ".join(pairs) + ")" if pairs else None


def _fix_struct_extract(args: list[str]) -> str | None:
    if len(args) != 2 or not args[1].strip().startswith("'"):
        return None
    return f"({args[0].strip()})[{args[1].strip()}]"


def _fix_entropy(args: list[str]) -> str | None:
    # DuckDB entropy(x): base-2 Shannon entropy of the value
    # distribution in the group, NULLs excluded.  Emulated over
    # collect_list via the identity H = log2(n) − Σ c·log2(c) / n
    # (Spark dedups the identical collect_list agg expressions, so
    # the group is buffered once; the HOFs are interpreted —
    # dashboard-scale groups, not the corpus hot path).
    if len(args) != 1:
        return None
    L = f"collect_list({args[0].strip()})"
    return (
        f"(CASE WHEN size({L}) = 0 THEN NULL ELSE "
        f"log2(CAST(size({L}) AS DOUBLE)) - try_divide(aggregate("
        f"transform(array_distinct({L}), v -> "
        f"size(filter({L}, y -> y <=> v))), CAST(0 AS DOUBLE), "
        f"(acc, c) -> acc + c * log2(CAST(c AS DOUBLE))), "
        f"size({L})) END)"
    )


def _fix_histogram(args: list[str]) -> str | None:
    # DuckDB histogram(x): MAP(value → count), keys sorted, NULLs
    # excluded.  Same collect_list emulation as entropy.
    if len(args) != 1:
        return None
    L = f"collect_list({args[0].strip()})"
    return (
        f"map_from_entries(transform(array_sort(array_distinct({L})), "
        f"v -> struct(v, CAST(size(filter({L}, y -> y <=> v)) "
        f"AS BIGINT))))"
    )


def _fix_scalar_range(args: list[str]) -> str | None:
    # DuckDB's SCALAR range(): list with EXCLUSIVE end (Spark's
    # sequence() is inclusive).  FROM-position range() is the
    # table-function pass's / Spark's own TVF: its row is
    # expr_position_only.
    if len(args) == 1:
        n = f"CAST({args[0].strip()} AS BIGINT)"
        return (
            f"slice(sequence(0, greatest({n} - 1, 0)), 1, "
            f"greatest({n}, 0))"
        )
    if len(args) == 2:
        a = f"CAST({args[0].strip()} AS BIGINT)"
        b = f"CAST({args[1].strip()} AS BIGINT)"
        return (
            f"slice(sequence({a}, greatest({b} - 1, {a})), 1, "
            f"greatest({b} - {a}, 0))"
        )
    if len(args) == 3:
        # 3-arg with signed step (batch-22): exclusive stop via a
        # filter; a direction/step mismatch is [] in DuckDB where
        # sequence() raises — guard it (step 0 still raises, loud
        # on both engines)
        a = f"CAST({args[0].strip()} AS BIGINT)"
        b = f"CAST({args[1].strip()} AS BIGINT)"
        s = f"CAST({args[2].strip()} AS BIGINT)"
        return (
            f"(CASE WHEN (({s}) > 0 AND ({a}) >= ({b})) "
            f"OR (({s}) < 0 AND ({a}) <= ({b})) "
            f"THEN array() "
            f"ELSE filter(sequence({a}, {b}, {s}), "
            f"__rg -> CASE WHEN ({s}) > 0 THEN __rg < ({b}) "
            f"ELSE __rg > ({b}) END) END)"
        )
    return None


def _fix_scalar_series(args: list[str]) -> str | None:
    # scalar generate_series(): INCLUSIVE end — sequence()
    # exactly; 3-arg adds DuckDB's empty-list-on-mismatch (Spark
    # raises; batch-22).  Interval steps pass through unguarded
    # (the numeric comparison below would not type-check).
    if len(args) == 2:
        return f"sequence({args[0].strip()}, {args[1].strip()})"
    if len(args) == 3:
        a, b, s = (x.strip() for x in args)
        if re.search(r"\bINTERVAL\b", s, re.IGNORECASE):
            return f"sequence({a}, {b}, {s})"
        return (
            f"(CASE WHEN (({s}) > 0 AND ({a}) > ({b})) "
            f"OR (({s}) < 0 AND ({a}) < ({b})) "
            f"THEN array() "
            f"ELSE sequence({a}, {b}, {s}) END)"
        )
    if len(args) == 1:
        return f"sequence(0, CAST({args[0].strip()} AS BIGINT))"
    return None


def _fix_xor(args: list[str]) -> str | None:
    # scalar xor(); cannot emit '^' — the POWER pass would read it
    # as an exponent downstream
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    return f"((({a}) | ({b})) & ~(({a}) & ({b})))"


def _fix_product(args: list[str]) -> str | None:
    # product() aggregate over collect_list (exp(sum(ln)) breaks
    # on zeros/negatives)
    if len(args) != 1:
        return None
    return (
        f"aggregate(collect_list({args[0].strip()}), CAST(1 AS DOUBLE), "
        f"(s, v) -> s * v)"
    )


def _fix_json_valid(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"(({e}) IS NOT NULL AND "
        f"get_json_object({e}, '$') IS NOT NULL)"
    )


def _mk_codec1(fn_name: str):
    # DuckDB's 1-arg encode/decode are UTF-8 blob conversions;
    # Spark's equivalents take an explicit charset
    def fix(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        return f"{fn_name}({args[0].strip()}, 'UTF-8')"

    return fix


def _fix_format_bytes(args: list[str]) -> str | None:
    # binary units with one decimal, like DuckDB (its concat: the
    # NULL-skipping concat row)
    if len(args) != 1:
        return None
    n = f"CAST({args[0].strip()} AS DOUBLE)"

    def shown(value: str, unit: str) -> str:
        args = [value, f"' {unit}'"]
        return _fix_concat_nullskip(args) or f"concat({', '.join(args)})"

    def scaled(div: int) -> str:
        return f"format_string('%.1f', {n} / {div})"

    return (
        f"(CASE WHEN {n} < 1024 THEN "
        f"{shown(f'CAST(CAST({n} AS BIGINT) AS STRING)', 'bytes')}"
        f" WHEN {n} < 1048576 THEN {shown(scaled(1024), 'KiB')}"
        f" WHEN {n} < 1073741824 THEN {shown(scaled(1048576), 'MiB')}"
        f" WHEN {n} < 1099511627776 THEN {shown(scaled(1073741824), 'GiB')}"
        f" ELSE {shown(scaled(1099511627776), 'TiB')} END)"
    )


_NONNEG_INT_RE = re.compile(r"\+?\d+$")


def _fix_left_neg(args: list[str]) -> str | None:
    # DuckDB left(s, -n) = all but the LAST n chars; Spark returns
    # '' (r11 batch-16). Non-negative integer literals (the common
    # form) pass through untouched.
    if len(args) != 2:
        return None
    s, n = args[0].strip(), args[1].strip()
    if _NONNEG_INT_RE.fullmatch(n):
        return None
    return (
        f"IF(({n}) IS NULL, NULL, substr({s}, 1, "
        f"CASE WHEN ({n}) >= 0 THEN CAST({n} AS INT) "
        f"ELSE greatest(CAST(length({s}) + ({n}) AS INT), 0) END))"
    )


def _fix_right_neg(args: list[str]) -> str | None:
    # DuckDB right(s, -n) = all but the FIRST n chars
    if len(args) != 2:
        return None
    s, n = args[0].strip(), args[1].strip()
    if _NONNEG_INT_RE.fullmatch(n):
        return None
    return (
        f"IF(({n}) IS NULL, NULL, "
        f"CASE WHEN ({n}) >= length({s}) THEN ({s}) "
        f"WHEN ({n}) > 0 THEN substr({s}, -CAST({n} AS INT)) "
        f"WHEN ({n}) < 0 THEN substr({s}, CAST(1 - ({n}) AS INT)) "
        f"ELSE '' END)"
    )


def _fix_substring_window(args: list[str]) -> str | None:
    # DuckDB 3-arg substring: negative start counts from the END
    # (start' = len+start+1), then the Postgres window clip applies
    # — substring('abcde', 0, 3) = 'ab' (the window [0,3) shows 2
    # chars) where Spark returns 'abc' (r11 batch-16).  Positive
    # integer-literal starts (the common form) are already
    # identical and pass through.
    if len(args) != 3:
        return None
    s, st, ln = (a.strip() for a in args)
    neg_len = re.fullmatch(r"-\d+", ln) is not None
    if re.fullmatch(r"\+?[1-9]\d*", st) and not neg_len:
        return None
    nst = (
        f"(CASE WHEN ({st}) < 0 THEN length({s}) + ({st}) + 1 "
        f"ELSE ({st}) END)"
    )
    # negative length opens the window BACKWARD from start
    # (batch-25): unified window [min(st, st+len), max(st, st+len))
    lo = f"least({nst}, {nst} + ({ln}))"
    hi = f"greatest({nst}, {nst} + ({ln}))"
    return (
        f"substr({s}, greatest({lo}, 1), "
        f"greatest({hi} - greatest({lo}, 1), 0))"
    )


def _fix_trunc1(args: list[str]) -> str | None:
    # numeric 1-arg trunc (toward zero); Spark's trunc is the
    # 2-arg DATE form, so the 1-arg call never collides
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"(CASE WHEN ({e}) >= 0 THEN floor({e}) ELSE ceil({e}) END)"
    )


def _fix_list_slice(args: list[str]) -> str | None:
    # DuckDB list_slice(l, a, b[, step]): 1-based INCLUSIVE bounds;
    # the 4-arg step form counts negatives from the end. 2-arg
    # list_slice does not exist in DuckDB 1.0; the bracket l[a:b]
    # form has its own pass.
    if len(args) == 3:
        return _fix_array_slice(args)
    if len(args) != 4:
        return None
    l = args[0].strip()
    a, b = args[1].strip(), args[2].strip()
    na = f"(CASE WHEN ({a}) < 0 THEN size({l}) + ({a}) + 1 ELSE ({a}) END)"
    nb = (
        f"least(CASE WHEN ({b}) < 0 THEN size({l}) + ({b}) + 1 "
        f"ELSE ({b}) END, size({l}))"
    )
    step = args[3].strip()
    return (
        f"transform(sequence(greatest({na}, 1), {nb}, {step}), "
        f"__li -> element_at({l}, __li))"
    )


def _fix_md5_number_half(upper: bool):
    # DuckDB md5_number_lower/_upper: the md5 digest's second/
    # first 8 BYTES as a little-endian unsigned 64-bit integer —
    # byte-pair-reversed hex through conv(…,16,10), surfaced as
    # DECIMAL(20,0) (Spark has no unsigned BIGINT)
    off = 1 if upper else 17

    def fix(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        e = args[0].strip()
        # md5() inlined per pair — Spark's subexpression
        # elimination collapses the duplicates inside one project
        pairs = "||".join(
            f"substr(md5({e}), {off + 2 * i}, 2)"
            for i in reversed(range(8))
        )
        return f"CAST(conv({pairs}, 16, 10) AS DECIMAL(20,0))"

    return fix


def _fix_geomean(args: list[str]) -> str | None:
    # DuckDB geomean/geometric_mean: exp of the mean log —
    # NULLs skipped by avg on both sides (r11 batch-16 probe)
    if len(args) != 1:
        return None
    e = args[0].strip()
    return f"exp(avg(ln(CAST({e} AS DOUBLE))))"


def _jsonify(e: str) -> str:
    # any scalar/complex value → its JSON text, NULL → 'null':
    # to_json needs a struct wrapper; the value is the fixed-offset
    # slice of '{"v":X}' (prefix 5 chars, suffix 1 — no regex)
    tj = f"to_json(named_struct('v', {e}))"
    return (
        f"CASE WHEN ({e}) IS NULL THEN 'null' "
        f"ELSE substr({tj}, 6, length({tj}) - 6) END"
    )


def _json_path(p: str) -> str:
    # a path literal: '$'-prefixed passes through, bare key gets it
    if p.startswith("'") and not p[1:].startswith("$"):
        return "'$." + p[1:]
    return p


def _fix_list_resize(args: list[str]) -> str | None:
    # duck list_resize(l, n[, fill]): truncate or pad; default pad
    # is a typed NULL (try_element_at(l, 0) — index 0 is invalid,
    # the try_ form yields NULL of the ELEMENT type)
    if len(args) not in (2, 3):
        return None
    l, n = args[0].strip(), args[1].strip()
    # default pad = a typed NULL: a never-taken CASE branch types
    # the NULL as the element type (try_element_at(l, 0) raises —
    # index 0 is invalid even in the try_ form)
    fill = (
        args[2].strip() if len(args) == 3
        else f"CASE WHEN false THEN try_element_at({l}, 1) END"
    )
    return (
        f"CASE WHEN size({l}) >= ({n}) THEN slice({l}, 1, {n}) "
        f"ELSE concat({l} /*ARR*/, transform(sequence(1, ({n}) - "
        f"size({l})), __lr -> {fill})) END"
    )


def _fix_pop_front(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    l = args[0].strip()
    return f"slice({l}, 2, greatest(size({l}) - 1, 0))"


def _fix_pop_back(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    l = args[0].strip()
    return f"slice({l}, 1, greatest(size({l}) - 1, 0))"


def _fix_list_any_value(args: list[str]) -> str | None:
    # first non-NULL element (duck list_any_value); empty/all-NULL
    # input → NULL via the try_ form
    if len(args) != 1:
        return None
    return f"try_element_at(array_compact({args[0].strip()}), 1)"


_ARRAY_HEADS = re.compile(
    r"\s*(\[|array\s*\(|array_|split\s*\(|sequence\s*\(|"
    r"collect_list\s*\(|collect_set\s*\(|transform\s*\(|"
    r"filter\s*\(|flatten\s*\(|slice\s*\(|map_keys\s*\(|"
    r"map_values\s*\(|sort_array\s*\(|string_split|string_to_array|"
    r"regexp_split_to_array\s*\(|str_split|"
    r"regexp_extract_all\s*\(|list_)",
    re.IGNORECASE,
)


def _makes_list(e: str) -> bool:
    # an argument that SYNTACTICALLY produces an array: a list head
    # (arguments arrive rewritten, so the Spark forms of the list
    # fixers count) or an /*ARR*/-marked array concat inside it
    return bool(_ARRAY_HEADS.match(e)) or "/*ARR*/" in e


def _fix_len(args: list[str]) -> str | None:
    # duck len() is polymorphic (strings AND lists); Spark splits
    # it into length()/size() with no common spelling.  Textual
    # heuristic: an argument that SYNTACTICALLY produces an array
    # (list literal, array_*/split/sequence/transform/… head) →
    # size(); anything else (columns included) → length().
    # Documented limit: a list-typed COLUMN passed to len() still
    # becomes length() — use array_length/size for those.
    if len(args) != 1:
        return None
    e = args[0].strip()
    if _makes_list(e):
        return f"size({e})"
    return f"length({e})"


def _fix_regexp_full_match(args: list[str]) -> str | None:
    # duck regexp_full_match = anchored match of the WHOLE string
    if len(args) != 2:
        return None
    s, p = args[0].strip(), args[1].strip()
    return f"({s} RLIKE ('^(?:' || ({p}) || ')$'))"


def _mk_like_escape(op: str, neg: bool):
    # duck like_escape/ilike_escape/not_*_escape scalar forms →
    # the LIKE … ESCAPE clause (ILIKE via lower() on both sides —
    # the escape char is a symbol, unaffected)
    def fix(args: list[str]) -> str | None:
        if len(args) != 3:
            return None
        s, p, e = (a.strip() for a in args)
        if op == "ilike":
            s, p = f"lower({s})", f"lower({p})"
        n = "NOT " if neg else ""
        return f"({s} {n}LIKE {p} ESCAPE {e})"

    return fix


def _fix_array_concat(args: list[str]) -> str | None:
    # list_concat/array_concat/array_cat → Spark's array concat,
    # /*ARR*/-marked so the varchar NULL-skip concat row (an enclosing
    # DuckDB concat) leaves it
    if not args:
        return None
    rest = ", ".join(a.strip() for a in args[1:])
    return (
        f"concat({args[0].strip()} /*ARR*/"
        + (f", {rest}" if rest else "")
        + ")"
    )


def _fix_concat_nullskip(args: list[str]) -> str | None:
    # DuckDB concat() is VARCHAR-only and SKIPS NULL arguments
    # (concat('a', NULL) = 'a', lists stringify); Spark's concat
    # NULL-propagates and doubles as array concat — silent wrong
    # (r11 batch-19).  Args are cast to STRING and joined with
    # concat_ws('') (which skips NULLs).  /*ARR*/-marked calls
    # (our own array-concat emissions) and syntactically-array
    # args stay native Spark array concat — DuckDB users
    # concatenating list-PRODUCING expressions through concat()
    # get Spark array semantics instead of DuckDB's stringify
    # (documented).
    if not args or any(_makes_list(a.strip()) for a in args):
        return None
    casted = ", ".join(
        f"CAST({a.strip()} AS STRING)" for a in args
    )
    return f"concat_ws('', {casted})"


def _fix_json_quote(args: list[str]) -> str | None:
    # duck json_quote: value → JSON text, SQL NULL → NULL (not
    # 'null' — unlike elements inside json_array)
    if len(args) != 1:
        return None
    e = args[0].strip()
    tj = f"to_json(named_struct('v', {e}))"
    return (
        f"CASE WHEN ({e}) IS NULL THEN NULL "
        f"ELSE substr({tj}, 6, length({tj}) - 6) END"
    )


def _fix_json_array_ctor(args: list[str]) -> str | None:
    elems = ", ".join(_jsonify(a.strip()) for a in args)
    return f"concat('[', concat_ws(',', {elems}), ']')"


def _fix_json_object_ctor(args: list[str]) -> str | None:
    if len(args) % 2 != 0:
        return None
    pairs = ", ".join(
        f"concat({_jsonify(args[i].strip())}, ':', "
        f"{_jsonify(args[i + 1].strip())})"
        for i in range(0, len(args), 2)
    )
    return f"concat('{{', concat_ws(',', {pairs}), '}}')"


def _fix_json_group_array(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return (
        f"concat('[', concat_ws(',', "
        f"collect_list({_jsonify(args[0].strip())})), ']')"
    )


def _fix_json_group_object(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    k, v = args[0].strip(), args[1].strip()
    return (
        f"concat('{{', concat_ws(',', collect_list(concat("
        f"{_jsonify(k)}, ':', {_jsonify(v)}))), '}}')"
    )

# ---- r13 bitstring family (BIT emulated as a '0'/'1' string;
# every behavior pinned vs DuckDB 1.0 live — see test_rewrite
# TestBitstrings).  Functions run BEFORE the ::BIT cast pass, so
# the textual '::BIT' marker still distinguishes BIT operands of
# the polymorphic bit_count/bit_length/octet_length. ----


def _is_bit_marked(a: str) -> bool:
    u = re.sub(r"\s+", "", a.upper())
    return "::BIT" in u or "ASBIT)" in u or "BITSTRING(" in u


def _fix_bitstring(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    s, n = args[0].strip(), args[1].strip()
    return (
        f"(CASE WHEN length({s}) > ({n}) THEN "
        f"raise_error('Invalid Input Error: Length must be equal "
        f"or larger than input string') "
        f"ELSE lpad({_bit_cast_guard(s)}, ({n}), '0') END)"
    )


def _fix_get_bit(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    b, i = args[0].strip(), args[1].strip()
    oob = (
        f"raise_error(concat('Out of Range Error: bit index ', "
        f"CAST(({i}) AS STRING), ' out of valid range (0..', "
        f"CAST(length({b}) - 1 AS STRING), ')'))"
    )
    return (
        f"(CASE WHEN ({i}) < 0 OR ({i}) >= length({b}) THEN "
        f"CAST({oob} AS INT) "
        f"ELSE CAST({_fix_substring_window([b, f'({i}) + 1', '1'])} AS INT) "
        f"END)"
    )


def _fix_set_bit(args: list[str]) -> str | None:
    if len(args) != 3:
        return None
    b, i, v = (a.strip() for a in args)
    oob = (
        f"raise_error(concat('Out of Range Error: bit index ', "
        f"CAST(({i}) AS STRING), ' out of valid range (0..', "
        f"CAST(length({b}) - 1 AS STRING), ')'))"
    )
    return (
        f"(CASE WHEN ({v}) NOT IN (0, 1) THEN "
        f"raise_error('Invalid Input Error: The new bit must be "
        f"1 or 0') "
        f"WHEN ({i}) < 0 OR ({i}) >= length({b}) THEN "
        f"CAST({oob} AS STRING) "
        f"ELSE concat(substring({b}, 1, ({i})), "
        f"CAST(({v}) AS STRING), substring({b}, ({i}) + 2)) END)"
    )


def _fix_bit_position(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    sub, hay = args[0].strip(), args[1].strip()
    return f"CAST(instr({hay}, {sub}) AS INT)"


def _fix_bit_count(args: list[str]) -> str | None:
    # BIT operand (textual marker) → count of '1' chars; integer
    # operand keeps Spark's builtin popcount (identical to duck)
    if len(args) != 1 or not _is_bit_marked(args[0]):
        return None
    a = args[0].strip()
    return (
        f"CAST(length({a}) - length(replace({a}, '1', '')) "
        f"AS BIGINT)"
    )


def _fix_bit_length(args: list[str]) -> str | None:
    if len(args) != 1 or not _is_bit_marked(args[0]):
        return None
    return f"CAST(length({args[0].strip()}) AS BIGINT)"


def _fix_octet_length(args: list[str]) -> str | None:
    if len(args) != 1 or not _is_bit_marked(args[0]):
        return None
    a = args[0].strip()
    return f"CAST((length({a}) + 7) DIV 8 AS BIGINT)"


def _fix_json_type(args: list[str]) -> str | None:
    # 1-arg → the compat UDF; 2-arg → the path-walking UDF, which
    # keeps DuckDB's JSON-null-at-path = 'NULL' vs missing-path =
    # SQL NULL distinction (r13 fuzz find — get_json_object
    # erases it)
    if len(args) == 2:
        return (
            f"json_type2({args[0].strip()}, "
            f"{_json_path(args[1].strip())})"
        )
    return None


def _fix_json_array_length2(args: list[str]) -> str | None:
    # DuckDB returns 0 for any EXISTING non-array value where
    # Spark returns NULL (r12 JSON fuzz); SQL-NULL input and a
    # missing path stay NULL.  Residual corner (documented): a
    # JSON null AT the path is 0 in DuckDB but indistinguishable
    # from a missing path through get_json_object, so it stays
    # NULL here.
    if len(args) == 1:
        a = args[0].strip()
        return (
            f"(CASE WHEN ({a}) IS NULL THEN CAST(NULL AS INT) "
            f"ELSE coalesce(json_array_length({a}), 0) END)"
        )
    if len(args) != 2:
        return None
    x, p = args[0].strip(), _json_path(args[1].strip())
    g = f"get_json_object({x}, {p})"
    return (
        f"(CASE WHEN ({x}) IS NULL OR {g} IS NULL "
        f"THEN CAST(NULL AS INT) "
        f"ELSE coalesce(json_array_length({g}), 0) END)"
    )


def _duck_structure_to_ddl(spec) -> str | None:
    scalar = {
        "UBIGINT": "BIGINT", "BIGINT": "BIGINT",
        "UINTEGER": "BIGINT", "INTEGER": "INT",
        "VARCHAR": "STRING", "DOUBLE": "DOUBLE",
        "FLOAT": "FLOAT", "BOOLEAN": "BOOLEAN",
        "HUGEINT": "DECIMAL(38,0)", "NULL": "STRING",
        "JSON": "STRING",
    }
    if isinstance(spec, str):
        return scalar.get(spec.upper())
    if isinstance(spec, list) and len(spec) == 1:
        inner = _duck_structure_to_ddl(spec[0])
        return f"ARRAY<{inner}>" if inner else None
    if isinstance(spec, dict):
        fields = []
        for k, v in spec.items():
            inner = _duck_structure_to_ddl(v)
            if inner is None:
                return None
            fields.append(f"`{k}`: {inner}")
        return "STRUCT<" + ", ".join(fields) + ">"
    return None


def _fix_from_json_structure(args: list[str]) -> str | None:
    # duck from_json/json_transform take a JSON type-structure
    # literal; Spark's native from_json wants a DDL schema —
    # convert literal structures at rewrite time, pass everything
    # else through (a DDL string second arg is already Spark form)
    if len(args) != 2:
        return None
    spec = args[1].strip()
    if not (spec.startswith("'") and spec.endswith("'")):
        return None
    try:
        parsed = json.loads(spec[1:-1])
    except ValueError:
        return None
    ddl = _duck_structure_to_ddl(parsed)
    if ddl is None:
        return None
    return f"from_json({args[0].strip()}, '{ddl}')"


def _fix_json_merge_variadic(args: list[str]) -> str | None:
    # DuckDB json_merge_patch is variadic; the compat UDF takes 2
    # args — fold left: (a,b,c) → jmp(jmp(a,b),c).  2-arg calls
    # pass through untouched (fixer output contains only 2-arg
    # calls, so the pass is idempotent).
    if len(args) <= 2:
        return None
    out = args[0].strip()
    for a in args[1:]:
        out = f"json_merge_patch({out}, {a.strip()})"
    return out


def _fix_list_sum(args: list[str]) -> str | None:
    # the old rename emitted a placeholder name (broken); sum/avg
    # over an array are HOF reductions.  DuckDB SKIPS NULL
    # elements like the sum aggregate (list_sum([1,NULL,3]) = 4)
    # and returns NULL for empty / all-NULL / NULL input —
    # aggregate over array_compact, NULL-gated on compact size
    # (r11 ADVICE: the old form NULL-propagated through the
    # lambda).
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"CASE WHEN size(array_compact({e})) > 0 THEN "
        f"aggregate(array_compact({e}), CAST(0 AS DOUBLE), "
        f"(s, v) -> s + v) END"
    )


def _fix_list_avg(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"try_divide(aggregate(array_compact({e}), "
        f"CAST(0 AS DOUBLE), (s, v) -> s + v), "
        f"size(array_compact({e})))"
    )


def _fix_isoyear(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"extract(YEAROFWEEK FROM {args[0].strip()})"


def _fix_century(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return (
        f"CAST(ceil(year({args[0].strip()}) / 100.0) AS BIGINT)"
    )


def _chars(e: str) -> str:
    # character array of a string (drop split()'s empty artifacts)
    return f"filter(split({e}, ''), c -> c <> '')"


def _fix_jaccard_str(args: list[str]) -> str | None:
    # DuckDB jaccard(s1, s2): Jaccard similarity of the CHARACTER
    # SETS — the quick fuzzy-match scalar
    if len(args) != 2:
        return None
    a, b = _chars(args[0].strip()), _chars(args[1].strip())
    return (
        f"try_divide(CAST(size(array_intersect({a}, {b})) AS "
        f"DOUBLE), size(array_union({a}, {b})))"
    )


def _fix_hamming(args: list[str]) -> str | None:
    # positionwise mismatch count over the character arrays
    if len(args) != 2:
        return None
    a, b = _chars(args[0].strip()), _chars(args[1].strip())
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CASE WHEN "
        f"x <=> y THEN 0 ELSE 1 END), 0, (s, v) -> s + v)"
    )


def _fix_even(args: list[str]) -> str | None:
    # round away from zero to the next EVEN number
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"(sign({e}) * ceil(abs(CAST({e} AS DOUBLE)) / 2) * 2)"
    )


def _fix_isinf(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return (
        f"(abs(CAST({args[0].strip()} AS DOUBLE)) = "
        f"CAST('Infinity' AS DOUBLE))"
    )


def _fix_isfinite(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    e = f"CAST({args[0].strip()} AS DOUBLE)"
    return (
        f"(NOT isnan({e}) AND abs({e}) <> "
        f"CAST('Infinity' AS DOUBLE))"
    )


def _fix_list_reduce(args: list[str]) -> str | None:
    # DuckDB list_reduce starts from the FIRST element (no init)
    if len(args) != 2:
        return None
    l_, lam = args[0].strip(), args[1].strip()
    return (
        f"aggregate(slice({l_}, 2, greatest(size({l_}) - 1, 0)), "
        f"try_element_at({l_}, 1), {lam})"
    )


def _fix_list_where(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    l_, m_ = args[0].strip(), args[1].strip()
    return (
        f"transform(filter(zip_with({l_}, {m_}, "
        f"(x, m) -> struct(x AS x, m AS m)), s -> s.m), s -> s.x)"
    )


def _fix_list_select(args: list[str]) -> str | None:
    # 1-based index selection, like DuckDB's try-semantics
    if len(args) != 2:
        return None
    l_, ix = args[0].strip(), args[1].strip()
    return (
        f"transform({ix}, i -> try_element_at({l_}, CAST(i AS INT)))"
    )


def _fix_list_grade_up(args: list[str]) -> str | None:
    # positions each sorted element came from
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"transform(array_sort(zip_with({e}, sequence(1, size({e})), "
        f"(v, i) -> struct(v AS v, i AS i))), s -> s.i)"
    )


def _fix_dayofweek0(args: list[str]) -> str | None:
    # DuckDB dayofweek/weekday: 0 = Sunday; Spark dayofweek is
    # 1 = Sunday (and Spark weekday is 0 = Monday) — silent
    # off-by-one both ways
    if len(args) != 1:
        return None
    return f"(dayofweek({args[0].strip()}) - 1)"


def _fix_isodow_fn(args: list[str]) -> str | None:
    # ISO day number, 1 = Monday … 7 = Sunday
    if len(args) != 1:
        return None
    return f"(pmod(dayofweek({args[0].strip()}) + 5, 7) + 1)"


def _fix_string_agg1(args: list[str]) -> str | None:
    # DuckDB's default separator is ',' — Spark listagg's is ''
    if len(args) != 1:
        return None
    return f"listagg({args[0].strip()}, ',')"


def _fix_array_agg_nulls(args: list[str]) -> str | None:
    # DuckDB array_agg KEEPS NULL elements; collect_list drops
    # them — wrap in a struct (never NULL) and unwrap after
    if len(args) != 1:
        return None
    return (
        f"transform(collect_list(struct(({args[0].strip()}) AS v)), "
        f"s -> s.v)"
    )


def _fix_any_value(args: list[str]) -> str | None:
    # DuckDB any_value returns the first NON-NULL value
    if len(args) != 1:
        return None
    return f"any_value({args[0].strip()}, true)"


def _mk_to_unit(unit_expr: str):
    def fix(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        return unit_expr.format(n=args[0].strip())

    return fix


def _fix_literal_split(args: list[str]) -> str | None:
    # DuckDB string_split/str_split/string_to_array take a LITERAL
    # delimiter; Spark's split() is regex — '.' or '|' silently
    # split every character.  Literal delimiters regex-escape
    # inline; dynamic ones wrap in \\Q…\\E.
    if len(args) != 2:
        return None
    src, d = args[0].strip(), args[1].strip()
    if (
        len(d) >= 2
        and d.startswith("'")
        and d.endswith("'")
        and "'" not in d[1:-1]
    ):
        esc = re.sub(r"([.^$*+?()\[\]{}|\\])", r"\\\1", d[1:-1])
        return f"split({src}, '{esc}')"
    return f"split({src}, concat('\\Q', {d}, '\\E'))"


def _fix_list_unique(args: list[str]) -> str | None:
    # DuckDB list_unique/array_unique COUNT distinct non-NULL
    # elements (BIGINT) — array_distinct alone silently returned
    # an array
    if len(args) != 1:
        return None
    e = args[0].strip()
    return (
        f"CAST(size(array_distinct(array_compact({e}))) AS BIGINT)"
    )


def _fix_list_sort_dir(args: list[str]) -> str | None:
    # list_sort(l, 'DESC' [, 'NULLS …']) → sort_array; the 1-arg
    # form falls through to the array_sort rename
    if len(args) not in (2, 3):
        return None
    d = args[1].strip().strip("'").upper()
    if d not in ("ASC", "DESC"):
        return None
    return f"sort_array({args[0].strip()}, {str(d == 'ASC').lower()})"


def _fix_list_reverse_sort(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"sort_array({args[0].strip()}, false)"


def _fix_regexp_matches3(args: list[str]) -> str | None:
    # 3-arg regexp_matches: DuckDB inline flags → (?flags) prefix
    if len(args) != 3:
        return None
    f3 = args[2].strip()
    if f3.startswith("'") and f3.endswith("'"):
        flags = f3[1:-1].replace("g", "")
        if not flags:
            return f"rlike({args[0].strip()}, {args[1].strip()})"
        return (
            f"rlike({args[0].strip()}, concat('(?{flags})', "
            f"{args[1].strip()}))"
        )
    return None


def _fix_date_part_list(args: list[str]) -> str | None:
    # date_part(['year','month'], d) → STRUCT of the parts;
    # scalar fields Spark's extract lacks or counts differently
    # (batch-22): dow 0=Sunday, isodow 1=Monday, epoch fractional
    # seconds, micro/milliseconds of the minute, decade/century/
    # millennium.
    if len(args) != 2:
        return None
    f0 = args[0].strip()
    if f0.startswith("'") and f0.endswith("'"):
        field = f0[1:-1].lower()
        # DuckDB accepts singular and abbreviated part spellings
        field = _EXTRACT_FIELD_ALIASES.get(field, field)
        e = args[1].strip()
        us = f"pmod(unix_micros(CAST({e} AS TIMESTAMP)), 60000000)"
        special = {
            "dow": f"(dayofweek({e}) - 1)",
            "isodow": f"(weekday({e}) + 1)",
            "epoch": (
                f"(unix_micros(CAST({e} AS TIMESTAMP)) / 1000000.0)"
            ),
            "microseconds": us,
            "milliseconds": f"({us} DIV 1000)",
            # DuckDB's second part is a whole BIGINT; Spark's
            # extract(SECOND) keeps the fraction as DECIMAL(8,6)
            # (r12 temporal fuzz find)
            "second": f"({us} DIV 1000000)",
            "decade": f"(year({e}) DIV 10)",
            "century": f"(((year({e}) - 1) DIV 100) + 1)",
            "millennium": f"(((year({e}) - 1) DIV 1000) + 1)",
        }
        return special.get(field)
    am = re.match(
        r"^array\s*\((.*)\)$", f0, re.IGNORECASE | re.DOTALL
    )
    if am is None:
        return None
    parts = [p.strip() for p in _split_top_level_args(am.group(1))]
    if not all(p.startswith("'") and p.endswith("'") for p in parts):
        return None
    d = args[1].strip()
    fields = ", ".join(
        f"{p}, {_fix_date_part_list([p, d]) or f'date_part({p}, {d})'}"
        for p in parts
    )
    return f"named_struct({fields})"


def _fix_map_extract(args: list[str]) -> str | None:
    # DuckDB map_extract returns [v] or [] — never bare v
    if len(args) != 2:
        return None
    m_, k_ = args[0].strip(), args[1].strip()
    return (
        f"(CASE WHEN map_contains_key({m_}, {k_}) THEN "
        f"array(element_at({m_}, {k_})) ELSE array() END)"
    )


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS DOUBLE), (s, v) -> s + v)"
    )


def _fix_array_cosine(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    sq = "aggregate(transform({0}, x -> x * x), CAST(0 AS DOUBLE), (s, v) -> s + v)"
    return (
        f"({_dot(a, b)} / (sqrt({sq.format(a)}) * "
        f"sqrt({sq.format(b)})))"
    )


def _fix_array_inner(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    return f"({_dot(args[0].strip(), args[1].strip())})"


def _fix_array_distance(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    return (
        f"sqrt(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(x - y) * (x - y)), CAST(0 AS DOUBLE), (s, v) -> s + v))"
    )


def _fix_extract(args: list[str]) -> str | None:
    # extract(epoch|dow|isodow|… FROM e): epoch → fractional seconds
    # via unix_micros; DuckDB's dow is 0=Sunday (Spark's is 1=Sunday),
    # isodow is 1=Monday; sub-minute parts are whole numbers
    a = ", ".join(args)
    m = _EXTRACT_COMPAT_RE.match(a)
    if m is None:
        return None
    e = a[m.end() :].strip()
    field = m.group(1).lower()
    field = _EXTRACT_FIELD_ALIASES.get(field, field)
    us = f"pmod(unix_micros(CAST({e} AS TIMESTAMP)), 60000000)"
    return {
        "epoch": f"(unix_micros(CAST({e} AS TIMESTAMP)) / 1000000.0)",
        "dow": f"(dayofweek({e}) - 1)",
        "isodow": f"(weekday({e}) + 1)",
        "microseconds": us,
        "milliseconds": f"({us} DIV 1000)",
        "second": f"({us} DIV 1000000)",
        "decade": f"(year({e}) DIV 10)",
        "century": f"(((year({e}) - 1) DIV 100) + 1)",
        "millennium": f"(((year({e}) - 1) DIV 1000) + 1)",
    }[field]


def _rewrite_brace_literals(sql: str) -> str:
    """DuckDB struct literals ``{'a': 1, 'b': x}`` → Spark
    ``named_struct('a', 1, 'b', x)``; ``MAP {'k': v}`` → ``map('k', v)``.
    Keys must be single-quoted literals (DuckDB's rule). Nested
    literals convert innermost-first. A brace pair whose contents
    don't parse as ``'key': value`` pairs is left untouched."""
    rejected: set[int] = set()  # '{' positions judged not-a-literal
    while True:
        states = _scan_states(sql)
        # innermost candidate: a '{' whose matching '}' contains no
        # unprocessed '{'
        target = None
        depth_stack: list[int] = []
        for i, c in enumerate(sql):
            if states[i] != 0:
                continue
            if c == "{" and i not in rejected:
                depth_stack.append(i)
            elif c == "}" and depth_stack:
                target = (depth_stack.pop(), i)
                break
        if target is None:
            return sql
        open_pos, close_pos = target
        inner = sql[open_pos + 1 : close_pos]
        parts = _split_top_level_args(inner) if inner.strip() else []
        kv: list[tuple[str, str]] = []
        ok = bool(parts)
        for part in parts:
            m = re.match(r"\s*('(?:[^']|'')*')\s*:\s*(.+)\s*$", part, re.DOTALL)
            if not m:
                ok = False
                break
            kv.append((m.group(1), m.group(2).strip()))
        if not ok:
            rejected.add(open_pos)
            continue
        j = open_pos - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        is_map = j >= 2 and sql[j - 2 : j + 1].upper() == "MAP" and (
            j - 3 < 0 or not _IDENT_CHARS.match(sql[j - 3])
        )
        args = ", ".join(f"{k}, {v}" for k, v in kv)
        if is_map:
            start = j - 2
            repl = f"map({args})"
        else:
            start = open_pos
            repl = f"named_struct({args})"
        delta = len(repl) - (close_pos + 1 - start)
        rejected = {
            p + delta if p > close_pos else p
            for p in rejected
            if p < start or p > close_pos
        }
        sql = sql[:start] + repl + sql[close_pos + 1 :]
    return sql


_EXCLUDE_RE = re.compile(r"(\*\s*)EXCLUDE(\s*\()", re.IGNORECASE)

_INTERVAL_QUARTER_RE = re.compile(
    r"\bINTERVAL\s+'?(\d+)'?\s+QUARTERS?\b", re.IGNORECASE
)

# DuckDB date part names → Spark timestampdiff unit keywords
_DATE_PARTS = {
    "year": "YEAR", "years": "YEAR", "y": "YEAR", "yr": "YEAR",
    "quarter": "QUARTER", "quarters": "QUARTER",
    "month": "MONTH", "months": "MONTH", "mon": "MONTH",
    "week": "WEEK", "weeks": "WEEK", "w": "WEEK",
    "day": "DAY", "days": "DAY", "d": "DAY",
    "hour": "HOUR", "hours": "HOUR", "h": "HOUR",
    "minute": "MINUTE", "minutes": "MINUTE", "min": "MINUTE",
    "second": "SECOND", "seconds": "SECOND", "s": "SECOND",
    "millisecond": "MILLISECOND", "milliseconds": "MILLISECOND",
    "ms": "MILLISECOND",
    "microsecond": "MICROSECOND", "microseconds": "MICROSECOND",
    "us": "MICROSECOND",
}


def _rewrite_exclude_star(sql: str) -> str:
    """DuckDB's ``SELECT * EXCLUDE (cols)`` → Spark's ``* EXCEPT``
    (same semantics, different keyword)."""
    return _sub_in_code(_EXCLUDE_RE, r"\1EXCEPT\2", sql)


_DATE_DIFF_EPOCH_US = {
    "HOUR": 3_600_000_000,
    "MINUTE": 60_000_000,
    "SECOND": 1_000_000,
    "MILLISECOND": 1_000,
    "MICROSECOND": 1,
}


def _fix_date_diff(args: list[str]) -> str | None:
    """DuckDB ``date_diff('part', a, b)`` counts partition BOUNDARIES
    crossed; Spark's ``timestampdiff(PART, a, b)`` counts COMPLETE
    elapsed units. Truncating both operands to the part first makes
    Spark count boundaries too:
    ``timestampdiff(PART, date_trunc('part', a), date_trunc('part', b))``.
    Sub-day parts (hour…microsecond) instead replay DuckDB's ACTUAL
    arithmetic — epoch-microsecond integer division with C
    truncation-toward-zero — because for PRE-EPOCH operands DuckDB 1.0
    buckets toward zero rather than flooring (probed r12:
    ``date_diff('hour', '1969-… 23:00', '1969-… 23:59')`` is 1 in
    DuckDB); Spark ``DIV`` truncates identically.  ``week`` keeps the
    true Monday-boundary count: DuckDB 1.0's pre-epoch week diff is
    internally inconsistent (Mon→Mon across the epoch counts 0,
    Sun→Mon before it counts 1) — documented divergence for pre-1970
    operands, identical from 1970 on.  Calls whose first argument
    isn't a recognized part literal are left untouched (Spark's own
    2-arg datediff stays valid)."""
    if len(args) != 3:
        return None
    unit = _DATE_PARTS.get(args[0].strip("'\"").lower())
    if unit is None or not re.fullmatch(r"['\"]\w+['\"]", args[0]):
        return None
    a, b = args[1], args[2]
    us = _DATE_DIFF_EPOCH_US.get(unit)
    if us is not None:
        return (
            f"((unix_micros(CAST(({b}) AS TIMESTAMP)) DIV {us}) - "
            f"(unix_micros(CAST(({a}) AS TIMESTAMP)) DIV {us}))"
        )
    lpart = unit.lower()
    return (
        f"timestampdiff({unit}, date_trunc('{lpart}', {a}), "
        f"date_trunc('{lpart}', {b}))"
    )


_SERIES_TF_RE = re.compile(
    r"\b(FROM|JOIN)\s+(generate_series|range)\s*\(", re.IGNORECASE
)


def _rewrite_series_tablefuncs(sql: str) -> str:
    """DuckDB's lazy series *table* functions in FROM position →
    ``explode(sequence(...))`` derived tables (Spark has no SQL table
    functions beyond VALUES):

    * ``generate_series(a, b[, s])`` — inclusive of ``b`` → plain
      ``sequence`` (same bounds semantics).
    * ``range(a, b[, s])`` and both 1-arg forms — exclusive of the
      stop → sequence + a ``<> stop`` filter (``sequence`` only emits
      the stop when the step lands on it exactly, so dropping it is
      precise; empty ranges like ``range(0)`` come out empty).

    The output column keeps DuckDB's name (``generate_series`` /
    ``range``), and a trailing ``t`` / ``t(x)`` alias applies to the
    derived table unchanged. Timestamps + INTERVAL steps pass through
    (Spark's sequence accepts them). Known edge: a descending 2-arg
    call like ``generate_series(5, 1)`` is empty in DuckDB but an
    error in Spark's sequence (step is pinned to +1, matching
    DuckDB's default)."""
    while True:
        states = _scan_states(sql)
        m = next(
            (
                m
                for m in _SERIES_TF_RE.finditer(sql)
                if states[m.start()] == 0
            ),
            None,
        )
        if m is None:
            return sql
        open_pos = sql.index("(", m.end(2))
        close = _find_matching_close(sql, open_pos, states)
        if close == -1:
            return sql
        fn = m.group(2).lower()
        args = _split_top_level_args(sql[open_pos + 1 : close])
        exclusive = fn == "range" or len(args) == 1
        if len(args) == 1:
            a, b, s = "0", args[0].strip(), "1"
        elif len(args) == 2:
            a, b, s = args[0].strip(), args[1].strip(), "1"
        else:
            a, b, s = (x.strip() for x in args[:3])
        seq = f"explode(sequence({a}, {b}, {s})) AS `{fn}`"
        if exclusive:
            repl = (
                f"(SELECT `{fn}` FROM (SELECT {seq}) "
                f"WHERE `{fn}` <> ({b}))"
            )
        else:
            repl = f"(SELECT {seq})"
        sql = (
            sql[: m.start()]
            + f"{m.group(1)} {repl}"
            + sql[close + 1 :]
        )


def _fix_boxplot(args: list[str]) -> str | None:
    # BOXPLOT(val [, outlier_info := e]) macro → _boxplot_expansion
    val = args[0] if args else "NULL"
    outlier = None
    for a in args[1:]:
        am = re.match(r"outlier_info\s*:=\s*(.+)$", a, re.IGNORECASE | re.DOTALL)
        if am:
            expr = am.group(1).strip()
            if expr.upper() != "NULL":
                outlier = expr
        elif a.strip().upper() != "NULL":
            outlier = a.strip()
    return _boxplot_expansion(val, outlier)



class _CallFixer(NamedTuple):
    fix: Callable[[list[str]], str | None]
    # `x.name(` is a field or method, not this function
    no_dot: bool = False
    # right after FROM/JOIN the name is a table function: the series
    # pass or Spark handles it
    expr_position_only: bool = False


# lower-case function name → its fixer; aliases share a row
_CALL_FIXERS: dict[str, _CallFixer] = {
    name: row
    for names, row in (
        ("entropy", _CallFixer(_fix_entropy)),
        ("xor", _CallFixer(_fix_xor)),
        ("string_agg group_concat", _CallFixer(_fix_string_agg1)),
        ("array_agg list", _CallFixer(_fix_array_agg_nulls)),
        ("any_value", _CallFixer(_fix_any_value)),
        ("list_reduce array_reduce", _CallFixer(_fix_list_reduce)),
        ("list_where array_where", _CallFixer(_fix_list_where)),
        ("list_select array_select", _CallFixer(_fix_list_select)),
        ("list_grade_up array_grade_up grade_up", _CallFixer(_fix_list_grade_up)),
        ("dayofweek weekday", _CallFixer(_fix_dayofweek0)),
        ("isodow", _CallFixer(_fix_isodow_fn)),
        ("jaccard", _CallFixer(_fix_jaccard_str)),
        ("hamming", _CallFixer(_fix_hamming)),
        ("mismatches", _CallFixer(_fix_hamming)),
        ("even", _CallFixer(_fix_even)),
        ("isinf", _CallFixer(_fix_isinf)),
        ("isfinite", _CallFixer(_fix_isfinite)),
        ("list_sum", _CallFixer(_fix_list_sum)),
        ("list_avg", _CallFixer(_fix_list_avg)),
        ("isoyear", _CallFixer(_fix_isoyear)),
        ("century", _CallFixer(_fix_century)),
        ("product", _CallFixer(_fix_product)),
        ("json_valid", _CallFixer(_fix_json_valid)),
        ("encode", _CallFixer(_mk_codec1("encode"))),
        ("decode", _CallFixer(_mk_codec1("decode"))),
        ("format_bytes", _CallFixer(_fix_format_bytes)),
        ("to_seconds", _CallFixer(_mk_to_unit("make_dt_interval(0, 0, 0, {n})"))),
        ("to_minutes", _CallFixer(_mk_to_unit("make_dt_interval(0, 0, {n}, 0)"))),
        ("to_hours", _CallFixer(_mk_to_unit("make_dt_interval(0, {n}, 0, 0)"))),
        ("to_days", _CallFixer(_mk_to_unit("make_dt_interval({n}, 0, 0, 0)"))),
        ("to_months", _CallFixer(_mk_to_unit("make_ym_interval(0, {n})"))),
        ("to_years", _CallFixer(_mk_to_unit("make_ym_interval({n}, 0)"))),
        (
            "to_weeks",
            _CallFixer(_mk_to_unit("make_dt_interval(({n}) * 7, 0, 0, 0)")),
        ),
        ("to_quarters", _CallFixer(_mk_to_unit("make_ym_interval(0, ({n}) * 3)"))),
        ("to_decades", _CallFixer(_mk_to_unit("make_ym_interval(({n}) * 10, 0)"))),
        (
            "to_centuries",
            _CallFixer(_mk_to_unit("make_ym_interval(({n}) * 100, 0)")),
        ),
        (
            "to_millennia",
            _CallFixer(_mk_to_unit("make_ym_interval(({n}) * 1000, 0)")),
        ),
        (
            "to_milliseconds",
            _CallFixer(_mk_to_unit("make_dt_interval(0, 0, 0, ({n}) / 1000.0)")),
        ),
        (
            "to_microseconds",
            _CallFixer(_mk_to_unit("make_dt_interval(0, 0, 0, ({n}) / 1000000.0)")),
        ),
        ("histogram", _CallFixer(_fix_histogram)),
        ("json_merge_patch", _CallFixer(_fix_json_merge_variadic)),
        ("json_quote", _CallFixer(_fix_json_quote)),
        (
            "list_concat array_concat array_cat list_cat",
            _CallFixer(_fix_array_concat),
        ),
        ("regexp_full_match", _CallFixer(_fix_regexp_full_match)),
        ("like_escape", _CallFixer(_mk_like_escape("like", neg=False))),
        ("ilike_escape", _CallFixer(_mk_like_escape("ilike", neg=False))),
        ("not_like_escape", _CallFixer(_mk_like_escape("like", neg=True))),
        ("not_ilike_escape", _CallFixer(_mk_like_escape("ilike", neg=True))),
        ("concat", _CallFixer(_fix_concat_nullskip)),
        ("list_resize array_resize", _CallFixer(_fix_list_resize)),
        ("array_pop_front list_pop_front", _CallFixer(_fix_pop_front)),
        ("array_pop_back list_pop_back", _CallFixer(_fix_pop_back)),
        ("list_any_value", _CallFixer(_fix_list_any_value)),
        ("len", _CallFixer(_fix_len)),
        ("json_array", _CallFixer(_fix_json_array_ctor)),
        ("json_object", _CallFixer(_fix_json_object_ctor)),
        ("json_group_array", _CallFixer(_fix_json_group_array)),
        ("json_group_object", _CallFixer(_fix_json_group_object)),
        ("json_type", _CallFixer(_fix_json_type)),
        ("bitstring", _CallFixer(_fix_bitstring)),
        ("get_bit", _CallFixer(_fix_get_bit)),
        ("set_bit", _CallFixer(_fix_set_bit)),
        ("bit_position", _CallFixer(_fix_bit_position)),
        ("bit_count", _CallFixer(_fix_bit_count)),
        ("bit_length", _CallFixer(_fix_bit_length)),
        ("octet_length", _CallFixer(_fix_octet_length)),
        ("json_array_length", _CallFixer(_fix_json_array_length2)),
        (
            "from_json from_json_strict json_transform json_transform_strict",
            _CallFixer(_fix_from_json_structure),
        ),
        ("geomean geometric_mean", _CallFixer(_fix_geomean)),
        ("left", _CallFixer(_fix_left_neg)),
        ("right", _CallFixer(_fix_right_neg)),
        ("substring substr", _CallFixer(_fix_substring_window)),
        ("trunc", _CallFixer(_fix_trunc1)),
        ("list_slice", _CallFixer(_fix_list_slice)),
        ("md5_number_lower", _CallFixer(_fix_md5_number_half(upper=False))),
        ("md5_number_upper", _CallFixer(_fix_md5_number_half(upper=True))),
        ("string_split str_split string_to_array", _CallFixer(_fix_literal_split)),
        ("list_unique array_unique", _CallFixer(_fix_list_unique)),
        ("list_sort", _CallFixer(_fix_list_sort_dir)),
        (
            "list_reverse_sort array_reverse_sort",
            _CallFixer(_fix_list_reverse_sort),
        ),
        ("regexp_matches", _CallFixer(_fix_regexp_matches3)),
        ("date_part", _CallFixer(_fix_date_part_list)),
        ("map_extract", _CallFixer(_fix_map_extract)),
        (
            "array_cosine_similarity list_cosine_similarity",
            _CallFixer(_fix_array_cosine),
        ),
        (
            "array_inner_product array_dot_product list_inner_product list_dot_product",
            _CallFixer(_fix_array_inner),
        ),
        ("array_distance list_distance", _CallFixer(_fix_array_distance)),
        (
            "range",
            _CallFixer(_fix_scalar_range, no_dot=True, expr_position_only=True),
        ),
        (
            "generate_series",
            _CallFixer(_fix_scalar_series, no_dot=True, expr_position_only=True),
        ),
        ("skewness", _CallFixer(_fix_skew)),
        ("kurtosis_pop", _CallFixer(_fix_kurtosis_pop)),
        ("kurtosis", _CallFixer(_fix_kurt)),
        ("log", _CallFixer(_fix_log, no_dot=True)),
        (
            "list_contains list_has array_has array_contains",
            _CallFixer(_fix_list_contains),
        ),
        ("sha256", _CallFixer(_fix_sha256)),
        ("age", _CallFixer(_fix_age, no_dot=True)),
        ("struct_insert", _CallFixer(_fix_struct_insert)),
        ("favg", _CallFixer(_fix_favg)),
        ("fsum kahan_sum sumkahan", _CallFixer(_fix_fsum)),
        ("timezone", _CallFixer(_fix_timezone_fn, no_dot=True)),
        ("epoch_ms", _CallFixer(_fix_epoch_ms_poly)),
        ("epoch_us", _CallFixer(_fix_epoch_us_poly)),
        ("hash", _CallFixer(_fix_hash_fn, no_dot=True)),
        ("typeof", _CallFixer(_fix_typeof)),
        ("grouping", _CallFixer(_fix_grouping_multi, no_dot=True)),
        ("count_star", _CallFixer(_fix_count_star)),
        ("date_trunc", _CallFixer(_fix_date_trunc_type)),
        ("arg_max argmax max_by", _CallFixer(_mk_argminmax("max_by"))),
        ("arg_min argmin min_by", _CallFixer(_mk_argminmax("min_by"))),
        ("sem", _CallFixer(_fix_sem, no_dot=True)),
        ("constant_or_null", _CallFixer(_fix_constant_or_null)),
        ("reservoir_quantile", _CallFixer(_fix_reservoir_quantile)),
        ("julian", _CallFixer(_fix_julian, no_dot=True)),
        ("epoch_ns", _CallFixer(_fix_epoch_ns)),
        ("epoch", _CallFixer(_fix_epoch_fn, no_dot=True)),
        ("era", _CallFixer(_fix_era, no_dot=True)),
        ("timezone_hour", _CallFixer(_mk_const_fn("0"))),
        ("timezone_minute", _CallFixer(_mk_const_fn("0"))),
        ("decade", _CallFixer(_fix_decade_fn, no_dot=True)),
        ("millennium", _CallFixer(_fix_millennium_fn)),
        ("microsecond", _CallFixer(_fix_microsecond_fn)),
        ("millisecond", _CallFixer(_fix_millisecond_fn)),
        ("divide", _CallFixer(_fix_divide_fn, no_dot=True)),
        ("multiply", _CallFixer(_mk_binop_fn("*"), no_dot=True)),
        ("add", _CallFixer(_mk_binop_fn("+"), no_dot=True)),
        ("subtract", _CallFixer(_mk_binop_fn("-"), no_dot=True)),
        ("strftime", _CallFixer(_fix_strftime_computed)),
        ("strptime", _CallFixer(_fix_strptime_list)),
        ("printf format_string", _CallFixer(_fix_printf_args)),
        ("date_sub datesub", _CallFixer(_fix_date_sub3)),
        ("time_bucket", _CallFixer(_fix_time_bucket)),
        ("regexp_extract_all", _CallFixer(_fix_rex_all)),
        ("format", _CallFixer(_fix_format)),
        ("to_base", _CallFixer(_fix_to_base)),
        ("dayname", _CallFixer(_fix_dayname)),
        ("monthname", _CallFixer(_fix_monthname)),
        ("yearweek", _CallFixer(_fix_yearweek)),
        ("list_has_all array_has_all", _CallFixer(_fix_list_has_all)),
        ("struct_pack", _CallFixer(_fix_struct_pack)),
        ("struct_extract", _CallFixer(_fix_struct_extract)),
        ("date_add", _CallFixer(_fix_date_add)),
        ("regexp_extract", _CallFixer(_fix_regexp_extract)),
        ("array_slice", _CallFixer(_fix_array_slice)),
        ("ltrim", _CallFixer(_mk_trim2("ltrim"))),
        ("rtrim", _CallFixer(_mk_trim2("rtrim"))),
        ("trim btrim", _CallFixer(_mk_trim2("trim"))),
        (
            "list_aggregate array_aggregate list_aggr array_aggr",
            _CallFixer(_fix_list_aggregate),
        ),
        ("date_diff datediff", _CallFixer(_fix_date_diff)),
        ("regexp_replace", _CallFixer(_fix_regexp_replace)),
        ("boxplot", _CallFixer(_fix_boxplot)),
        ("extract", _CallFixer(_fix_extract)),
    )
    for name in names.split()
}

_CALL_HEAD_RE = re.compile(
    r"\b(" + "|".join(_CALL_FIXERS) + r")\s*\(",
    re.IGNORECASE,
)


def _rewrite_calls(sql: str) -> str:
    """Rewrite every call of a ``_CALL_FIXERS`` name: one scan finds
    the calls, and each is visited once, after its arguments, with
    those rewritten arguments.  A fixer's output is not walked again —
    a fixer whose output needs another row calls that row's fixer
    itself.  ``name /*as-is*/(`` (an earlier pass's Spark call) is not
    a head; the marker is dropped here."""
    states = _scan_states(sql)
    calls = []
    for m in _CALL_HEAD_RE.finditer(sql):
        start = m.start()
        row = _CALL_FIXERS[m.group(1).lower()]
        if states[start] or (row.no_dot and sql[start - 1 : start] == "."):
            continue
        if row.expr_position_only:
            prev = sql[:start].rstrip().rsplit(None, 1)
            if prev and prev[-1].upper() in ("FROM", "JOIN"):
                continue
        close = _find_matching_close(sql, m.end() - 1, states)
        if close != -1:
            calls.append((start, m.end() - 1, close, row))
    calls.reverse()  # pop() yields them in text order

    def render(lo: int, hi: int) -> str:
        # sql[lo:hi] with the calls that start in it rewritten
        out = []
        while calls and calls[-1][0] < hi:
            start, open_, close, row = calls.pop()
            if close >= hi:
                continue  # unbalanced brackets cut it: leave it as text
            cuts = [open_, *_depth0_commas(sql, states, open_ + 1, close), close]
            pieces = []
            for a, b in zip(cuts, cuts[1:]):  # a loop: one frame per depth
                pieces.append(render(a + 1, b))
            new = row.fix([p.strip() for p in pieces if p.strip()])
            if new is None:
                new = sql[start : open_ + 1] + ",".join(pieces) + ")"
            out += (sql[lo:start], new)
            lo = close + 1
        out.append(sql[lo:hi])
        return "".join(out)

    return render(0, len(sql)).replace(_AS_IS, "")


# ---------------------------------------------------------------------------
# QUALIFY (DuckDB/Snowflake clause; Spark has no equivalent)
# ---------------------------------------------------------------------------

_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_TAIL_RE = re.compile(r"\b(ORDER\s+BY|LIMIT|OFFSET)\b", re.IGNORECASE)


def _rewrite_qualify_all(sql: str) -> str:
    """Apply the QUALIFY rewrite at EVERY nesting depth: the outermost
    query first (the pre-r10 behavior), then each remaining QUALIFY
    inside a parenthesized subquery/CTE body by rewriting that paren
    group's content in place (where its own QUALIFY is depth-0).  This
    is what makes ``WITH x AS (SELECT … QUALIFY …)`` and derived-table
    DISTINCT ON work — ``_rewrite_distinct_on`` lowers into QUALIFY at
    any depth and relies on this pass."""
    sql = _rewrite_qualify(sql)
    for _ in range(32):  # nesting bound; each pass removes one QUALIFY
        states = _scan_states(sql)
        # innermost enclosing '(' for the first nested QUALIFY
        target = None
        for m in _QUALIFY_RE.finditer(sql):
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
            return sql
        m, open_pos = target
        close = _find_matching_close(sql, open_pos, states)
        if close == -1:
            return sql
        inner = sql[open_pos + 1 : close]
        new_inner = _rewrite_qualify(inner)
        if new_inner == inner:
            return sql  # not rewritable where it sits; leave for Spark
        sql = sql[: open_pos + 1] + new_inner + sql[close:]
    return sql


def _rewrite_qualify(sql: str) -> str:
    """``… QUALIFY <pred> [ORDER BY …]`` → filter over a subquery.

    If the predicate calls a window function inline, it is first injected
    into the select list (windows can't appear in WHERE); predicates that
    reference select-list aliases work through the subquery wrap alone.
    Both paths drop the helper column via ``SELECT * EXCEPT``."""
    matches = _depth0_matches(sql, _QUALIFY_RE)
    if not matches:
        return sql
    m = matches[0]
    body = sql[: m.start()].rstrip()
    rest = sql[m.end() :]
    tails = _depth0_matches(rest, _TAIL_RE)
    if tails:
        pred = rest[: tails[0].start()].strip()
        tail = " " + rest[tails[0].start() :].strip()
    else:
        pred, tail = rest.strip(), ""
    if re.search(r"\bOVER\b", pred, re.IGNORECASE):
        froms = _depth0_matches(body, re.compile(r"\bFROM\b", re.IGNORECASE))
        if not froms:
            return sql
        f = froms[0]
        # a trailing ORDER BY may reference SOURCE columns the select
        # list does not project (legal in DuckDB/Postgres, and the
        # normal case for DISTINCT ON) — inject each order key as a
        # helper column so the outer sort resolves, and EXCEPT-drop
        # the helpers with the qualify flag
        helper_cols = ""
        drop = ["__qualify__"]
        tm = re.match(
            r"\s*ORDER\s+BY\s+(.*?)(\s+(?:LIMIT|OFFSET|FETCH)\b.*)?$",
            tail,
            re.IGNORECASE | re.DOTALL,
        )
        if tm:
            items = _split_top_level_args(tm.group(1))
            rewritten = []
            mod_re = re.compile(
                r"\s*(ASC|DESC)?\s*(NULLS\s+(?:FIRST|LAST))?\s*$",
                re.IGNORECASE,
            )
            for k, item in enumerate(items):
                mm = mod_re.search(item)
                expr = item[: mm.start()].strip() if mm else item.strip()
                mods = item[mm.start() :].strip() if mm else ""
                if re.fullmatch(r"\d+", expr) or expr.upper() == "ALL":
                    # positional ordinal / ORDER BY ALL: both resolve
                    # against the OUTER wrapped query's output (post-
                    # EXCEPT columns), so keep them verbatim — a
                    # helper column `(ALL) AS __ob0__` is unresolvable
                    # (r13 statement-composition fuzz find)
                    rewritten.append(item.strip())
                    continue
                name = f"__ob{k}__"
                helper_cols += f", ({expr}) AS {name}"
                drop.append(name)
                rewritten.append(f"{name} {mods}".strip())
            tail = (
                " ORDER BY "
                + ", ".join(rewritten)
                + (tm.group(2) or "")
            )
        inner = (
            body[: f.start()].rstrip()
            + f", ({pred}) AS __qualify__{helper_cols} "
            + body[f.start() :]
        )
        return (
            f"SELECT * EXCEPT ({', '.join(drop)}) FROM ({inner}) "
            f"__qualify_sub WHERE __qualify__{tail}"
        )
    return f"SELECT * FROM ({body}) __qualify_sub WHERE {pred}{tail}"


# ---------------------------------------------------------------------------
# Variables
# ---------------------------------------------------------------------------

_GETVAR_RE = re.compile(r"getvariable\s*\(\s*'([^']*)'\s*\)", re.IGNORECASE)


def find_variable_refs(sql: str) -> list[str]:
    """All names referenced via getvariable('name')."""
    return [m.group(1) for m in _GETVAR_RE.finditer(sql)]


def substitute_variables(
    sql: str,
    scalars: dict[str, str] | None = None,
    lists: dict[str, list[str]] | None = None,
) -> str:
    """Inline getvariable('k') calls as SQL literals.

    The reference prefixes ``SET VARIABLE`` statements instead (reference:
    server/core/app.go:574-595); inlining is equivalent for read-only
    dashboards and keeps the statement self-contained for Spark.
    Unknown variables become NULL (DuckDB getvariable semantics).
    """
    scalars = scalars or {}
    lists = lists or {}

    def repl(m: re.Match[str]) -> str:
        name = m.group(1)
        if name in lists:
            items = ", ".join(f"'{escape_sql_string(v)}'" for v in lists[name])
            return f"array({items})"
        if name in scalars:
            return f"'{escape_sql_string(scalars[name])}'"
        return "NULL"

    return _GETVAR_RE.sub(repl, sql)


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

_PAREN_FROM_RE = re.compile(r"\(\s*FROM\b", re.IGNORECASE)
# a parenthesis after one of these words (or after no word) opens a
# query; after any other word it opens a call's arguments (trim(FROM x))
_QUERY_PAREN_WORDS = frozenset(
    "AS IN EXISTS FROM JOIN LATERAL ANY ALL SOME UNION INTERSECT EXCEPT "
    "SELECT WHERE HAVING AND OR NOT ON WHEN THEN ELSE MATERIALIZED".split()
)


def _lower_from_first_bodies(sql: str) -> str:
    """Lower each ``(FROM …)`` query body with :func:`lower_from_first`
    (which recurses into the bodies nested in it)."""
    states = _scan_states(sql)
    out: list[str] = []
    last = 0
    for m in _PAREN_FROM_RE.finditer(sql):
        open_ = m.start()
        if open_ < last or states[open_]:
            continue
        tail = sql[:open_].rsplit(None, 1)
        word = re.search(r"\w*$", tail[-1]).group() if tail else ""
        if word and word.upper() not in _QUERY_PAREN_WORDS:
            continue
        close = _find_matching_close(sql, open_, states)
        if close == -1:
            continue
        out += (sql[last : open_ + 1], lower_from_first(sql[open_ + 1 : close]), ")")
        last = close + 1
    out.append(sql[last:])
    return "".join(out)


def lower_from_first(sql: str) -> str:
    """DuckDB's FROM-first sugar → a SELECT query. DuckDB admits both the
    bare form (``FROM t [WHERE …]`` ≡ ``SELECT * FROM t …``) and the
    projected form (``FROM t SELECT cols [WHERE …]`` ≡ ``SELECT cols
    FROM t …`` — the table ref is everything between FROM and the first
    top-level SELECT; trailing clauses stay in normal order). Every
    parenthesized query that opens with FROM (a subquery or CTE body)
    is lowered the same way. Any other query comes back stripped and
    otherwise unchanged."""
    sql = sql.strip()
    if _PAREN_FROM_RE.search(sql):
        sql = _lower_from_first_bodies(sql)
    if sql[:4].upper() != "FROM":
        return sql
    sel = _depth0_matches(sql, re.compile(r"\bSELECT\b", re.IGNORECASE))
    if not sel:
        return "SELECT * " + sql
    table_ref = sql[4 : sel[0].start()].strip().rstrip(";")
    sql = sql[sel[0].start() :].rstrip("; \n\t")
    first_kw = _depth0_matches(
        sql,
        re.compile(
            r"\b(WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|WINDOW|"
            r"QUALIFY|UNION|INTERSECT|EXCEPT)\b",
            re.IGNORECASE,
        ),
    )
    cut = first_kw[0].start() if first_kw else len(sql)
    return (sql[:cut].rstrip() + f" FROM {table_ref} " + sql[cut:]).rstrip()


def rewrite_statement(sql: str) -> RewriteResult:
    """Rewrite one DuckDB-dialect statement into Spark SQL + column tags."""
    sql = lower_from_first(sql)

    # DuckDB's SHOW ALL TABLES (sql_validation.go:52) — Spark's SHOW
    # TABLES is the all-tables form already.
    if re.fullmatch(r"SHOW\s+ALL\s+TABLES\s*;?", sql, re.IGNORECASE):
        sql = "SHOW TABLES"

    # Custom-type casts → tags. Tag char positions are resolved to
    # select-item indexes HERE, before later passes (type renames,
    # bracket literals, QUALIFY) shift string offsets.
    sql, raw_tags = _extract_custom_casts(sql)
    spans = _outer_select_item_spans(sql)
    indexed_tags: list[tuple[int | None, str]] = []
    for pos, name in raw_tags:
        idx = None
        if spans:
            for j, (s, e) in enumerate(spans):
                if s <= pos <= e:
                    idx = j
                    break
        indexed_tags.append((idx, name))

    # count() → count(*)
    sql = _sub_in_code(_COUNT_EMPTY_RE, "count(*)", sql)

    # query_table('t') → `t`
    sql = _sub_in_code(
        _QUERY_TABLE_RE,
        lambda m: "`" + "`.`".join(m.group(1).split(".")) + "`",
        sql,
    )

    # [expr FOR x IN l [IF cond]] comprehensions → transform/filter.
    # BEFORE the literal passes (the comprehension bracket is neither
    # a list literal nor a subscript).
    sql = _rewrite_list_comprehensions(sql)

    # {'a': 1} struct / MAP {'k': v} literals → named_struct()/map().
    # BEFORE the bracket passes: a subscript on a struct literal
    # ("{'a': 5}['a']") must see ')' as its preceding char, not '}'.
    sql = _rewrite_brace_literals(sql)

    # ::TYPE[] / ::TYPE[n] cast suffixes BEFORE the bracket passes —
    # otherwise the subscript pass reads DuckDB's fixed-size-array
    # suffix ("::FLOAT[2]") as an element access on the type name.
    # The element type renames here too (VARCHAR→STRING, …): the later
    # ::TYPE pass does not look inside ARRAY<>.
    sql = _sub_in_code(
        _ARRAY_SUFFIX_RE,
        lambda m: (
            f"{m.group(1)}ARRAY<"
            f"{_TYPE_RENAMES.get(m.group(2).upper(), m.group(2))}>"
        ),
        sql,
    )

    # [a, b] list literals → array(a, b)
    sql = _rewrite_bracket_literals(sql)

    # expr[i] subscripts (DuckDB 1-based) → try_element_at; [a:b]
    # slices → slice().  Must follow the literal pass.
    sql = _rewrite_subscripts(sql)

    # integer-target casts round like DuckDB (batch-22).  EARLY, so
    # only user-written casts are wrapped — later fixers emit their
    # own integer casts whose operands are already integral.
    sql = _round_int_casts(sql)
    sql = _normalize_loose_date_literals(sql)

    # two-array map(array(…), array(…)) → map_from_arrays (after the
    # bracket pass, which produces the array(…) form it keys on).
    sql = _rewrite_map_two_arrays(sql)

    # ANY/ALL/SOME quantified comparisons → IN / scalar agg subqueries
    # (batch-24); LIMIT NULL = no limit in DuckDB.
    sql = _rewrite_quantified_comparisons(sql)
    sql = _sub_in_code(_LIMIT_NULL_RE, "", sql)

    # DuckDB operator spellings: ^/** power, / % // try-variants,
    # ~ / !~ regex match, -> / ->> JSON extraction.
    sql = _rewrite_in_values(sql)
    # r11 batch-20 statement edges — BEFORE the operator pass ('%'
    # after a LIMIT count would otherwise be read as modulo):
    states = _scan_states(sql)
    for m in _LIMIT_PERCENT_RE.finditer(sql):
        if states[m.start()] == 0:
            raise ValueError(
                "LIMIT n% (percentage limit) needs a computed row "
                "count; use USING SAMPLE n% / TABLESAMPLE (n PERCENT) "
                "or an explicit LIMIT"
            )
    sql = _sub_in_code(_GROUP_BY_EMPTY_RE, " ", sql)
    sql = _sub_in_code(
        _BOOLEAN_LITERAL_RE, lambda m: f"CAST('{m.group(1)}' AS BOOLEAN)", sql
    )
    sql = _rewrite_date_minus(sql)
    sql = _rewrite_collate_names(sql)
    sql = _rewrite_postfix_factorial(sql)
    sql = _rewrite_duck_operators(sql)

    # SELECT DISTINCT ON (keys) → QUALIFY row_number() = 1 (the
    # QUALIFY pass below turns it into a subquery filter).
    sql = _rewrite_distinct_on(sql)

    # USING SAMPLE n% / n ROWS → TABLESAMPLE.
    sql = _rewrite_using_sample(sql)

    # * REPLACE (expr AS col) → * EXCEPT (col), expr AS col.
    sql = _rewrite_star_replace(sql)

    # x [NOT] SIMILAR TO 'p' → anchored RLIKE.
    sql = _rewrite_similar_to(sql)

    # agg FILTER (WHERE c) OVER (…) → CASE'd agg; x = ANY(arr) etc;
    # in-paren IGNORE/RESPECT NULLS.
    sql = _normalize_bare_filter(sql)
    sql = _rewrite_filter_over_window(sql)
    # window-frame EXCLUDE CURRENT ROW/GROUP/TIES → windowed
    # arithmetic (after FILTER folding so the agg text is final).
    sql = _rewrite_window_exclude(sql)
    sql = _rewrite_any_all_array(sql)
    sql = _rewrite_ignore_nulls_position(sql)

    # inline ORDER BY inside string_agg/listagg/array_agg/list calls
    # → WITHIN GROUP / sorted collect_list (before function renames).
    sql = _rewrite_agg_order_by(sql)

    # FETCH FIRST n ROWS ONLY → LIMIT n
    sql = _sub_in_code(_FETCH_RE, r"LIMIT \1", sql)
    # DuckDB/postgres accept "OFFSET m LIMIT n" (and OFFSET before
    # FETCH, which the rewrite above turns into this); Spark's grammar
    # only parses "LIMIT n OFFSET m" — swap the clause order.
    sql = _sub_in_code(_OFFSET_LIMIT_RE, r"LIMIT \2 OFFSET \1", sql)

    # generate_series()/range() in FROM position → explode(sequence()).
    sql = _rewrite_series_tablefuncs(sql)

    # * EXCLUDE (cols) → * EXCEPT (cols)
    sql = _rewrite_exclude_star(sql)

    # INTERVAL n QUARTER → months (Spark has no QUARTER interval unit;
    # r12 temporal fuzz find)
    sql = _sub_in_code(
        _INTERVAL_QUARTER_RE,
        lambda m: f"INTERVAL {3 * int(m.group(1))} MONTH",
        sql,
    )

    # rank-family OVER () / OVER (PARTITION BY …) → ORDER BY (SELECT NULL)
    sql = _order_rank_windows(sql)

    # 2-param lambdas: DuckDB's index is 1-based, Spark's 0-based.
    sql = _rewrite_lambda_index_base(sql)

    # Every DuckDB call form in _CALL_FIXERS, in one walk.
    sql = _rewrite_calls(sql)

    # ASOF [LEFT] JOIN → LATERAL top-1 subquery.
    sql, asof_pairs = _rewrite_asof_join(sql)

    # QUALIFY → subquery filter (at every nesting depth).
    sql = _rewrite_qualify_all(sql)

    # Function renames.
    sql = _rename_functions(sql)

    # Decimal literals in * / arithmetic → double (DuckDB float-division
    # result typing); division now spells try_divide()/try_mod().
    sql = _double_mul_div_literals(sql)

    # ascending ORDER BY items default to NULLS LAST like DuckDB
    # (batch-23) — after the function fixers, so inline aggregate
    # ORDER BYs (first/last/any_value) are already lowered.
    sql = _default_nulls_last(sql)

    # strftime %-codes inside date_format literals.
    sql = _convert_strftime_literals(sql)

    # ::BIT casts → validated '0'/'1' strings (r13; after the fn
    # fixers so their textual BIT markers have dispatched).
    sql = _rewrite_bit_casts(sql)

    # Type renames (::TIMESTAMPTZ, CAST(x AS VARCHAR), …).
    sql = _rename_types(sql)
    sql = _rename_ddl_types(sql)

    # LIKE patterns: DuckDB has no default escape char — backslashes
    # in un-ESCAPEd LIKE/ILIKE pattern literals stay literal
    # (batch-25; BEFORE the global doubling below, which covers the
    # string-parser level).
    sql = _fix_like_backslash_literal(sql)

    # DuckDB literals treat backslash literally; Spark's parser
    # escapes it — double them (LAST, so injected literals are
    # covered exactly once).
    sql = _escape_backslashes_in_literals(sql)

    result = RewriteResult(sql=sql, asof_joins=asof_pairs)
    for idx, name in indexed_tags:
        if idx is not None and idx not in result.column_tags:
            result.column_tags[idx] = name
        else:
            result.loose_tags.append(name)
    return result
