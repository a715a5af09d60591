"""DuckDB sequence emulation (r12 verdict task 7).

The reference runs on DuckDB, where task scripts can `CREATE SEQUENCE`
and deal ids with ``nextval('s')`` (reference parity surface: DuckDB's
own sequence catalog — ``server/core/duckdb_schema.go`` introspects no
sequences, but task DML can use them).  Spark has no sequence object,
so — exactly like the ENUM emulation (enums.py, r12) — a tiny JSON
registry lives under the warehouse directory and the two functions
lower onto Python UDFs that deal values from it under an exclusive
file lock.

Pinned against DuckDB 1.0.0 live (tests/test_sequences.py):

* defaults: INCREMENT 1, ascending → MINVALUE 1 / MAXVALUE int64max /
  START = MINVALUE; descending (negative increment) → MINVALUE
  int64min / MAXVALUE -1 / START = MAXVALUE.
* bounds check happens when DEALING: ``START 5 INCREMENT 3 MAXVALUE
  12`` deals 5, 8, 11 then errors ``Sequence Error: nextval: reached
  maximum value of sequence "s" (12)`` (minimum wording for
  descending); CYCLE wraps to MINVALUE ascending / MAXVALUE
  descending at deal time.
* ``nextval(NULL)`` / ``currval(NULL)`` → NULL; unknown name →
  ``Catalog Error: Sequence with name X does not exist!``; duplicate
  CREATE → ``… already exists!`` (IF NOT EXISTS / OR REPLACE forms
  honored); non-constant name argument → DuckDB itself rejects
  ("requires a constant sequence").
* ``currval`` before any ``nextval`` → ``Sequence Error: currval:
  sequence is not yet defined in this session``.

Documented divergences: ``currval`` is registry-global rather than
session-scoped (the registry records the last dealt value — DuckDB
scopes it per connection); the registry file is warehouse-local, so
on a multi-node cluster without a shared warehouse FS sequence deals
would not be globally ordered (same deployment assumption as the
metastore/enums registries).  Per-row ``nextval`` over a large frame
serializes on the file lock by design — sequences are an id-dealing
convenience for task scripts, not a bulk-data operator (use
``zipWithIndex``/``monotonically_increasing_id`` shapes for that).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any
from urllib.parse import urlparse

from .sqltool import _scan_states

__all__ = [
    "try_execute_sequence_ddl",
    "expand_sequence_calls",
    "list_sequences",
    "register_sequence_udfs",
]

_QNAME = r'(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*)'
_CREATE_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?"
    rf"({_QNAME})\s*",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    rf"^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?({_QNAME})\s*;?\s*$",
    re.IGNORECASE,
)
_OPT_RE = re.compile(
    r"INCREMENT(?:\s+BY)?\s+(-?\d+)"
    r"|MINVALUE\s+(-?\d+)"
    r"|MAXVALUE\s+(-?\d+)"
    r"|START(?:\s+WITH)?\s+(-?\d+)"
    r"|(NO\s+MINVALUE)|(NO\s+MAXVALUE)|(NO\s+CYCLE)|(CYCLE)",
    re.IGNORECASE,
)
_CALL_RE = re.compile(
    r"\b(nextval|currval)\s*\(\s*('(?:[^']|'')*'|NULL)\s*\)",
    re.IGNORECASE,
)

_I64_MIN = -(2**63)
_I64_MAX = 2**63 - 1


def _norm(name: str) -> str:
    return name.strip().strip('"').lower()


def _store_path(spark) -> str:
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(wh, "_shaper_sequences.json")


def _load_file(path: str) -> dict[str, Any]:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _save_file(path: str, data: dict[str, Any]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(data, f)
    os.replace(tmp, path)


class _Locked:
    """Exclusive flock around the registry file for read-modify-write
    (multi-writer safety — the same discipline as the ingest WAL)."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        import fcntl

        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        self._fh = open(self.path + ".lock", "w")
        fcntl.flock(self._fh, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._fh, fcntl.LOCK_UN)
        self._fh.close()
        return False


def _parse_options(rest: str) -> dict[str, Any] | str:
    """Parse the option tail of CREATE SEQUENCE; returns the spec dict
    or an error string (DuckDB's parse-time bound checks)."""
    inc = 1
    minv: int | None = None
    maxv: int | None = None
    start: int | None = None
    cycle = False
    pos = 0
    rest = rest.strip().rstrip(";").strip()
    while pos < len(rest):
        m = _OPT_RE.match(rest, pos)
        if m is None:
            return f"unsupported CREATE SEQUENCE option near: {rest[pos:]!r}"
        if m.group(1) is not None:
            inc = int(m.group(1))
        elif m.group(2) is not None:
            minv = int(m.group(2))
        elif m.group(3) is not None:
            maxv = int(m.group(3))
        elif m.group(4) is not None:
            start = int(m.group(4))
        elif m.group(5):
            minv = None
        elif m.group(6):
            maxv = None
        elif m.group(7):
            cycle = False
        elif m.group(8):
            cycle = True
        pos = m.end()
        while pos < len(rest) and rest[pos].isspace():
            pos += 1
    if inc == 0:
        return "INCREMENT must not be zero"
    if inc > 0:
        minv = 1 if minv is None else minv
        maxv = _I64_MAX if maxv is None else maxv
        start = minv if start is None else start
    else:
        minv = _I64_MIN if minv is None else minv
        maxv = -1 if maxv is None else maxv
        start = maxv if start is None else start
    if start > maxv:
        return f"START value ({start}) cannot be greater than MAXVALUE ({maxv})"
    if start < minv:
        return f"START value ({start}) cannot be less than MINVALUE ({minv})"
    return {
        "increment": inc,
        "min": minv,
        "max": maxv,
        "start": start,
        "cycle": cycle,
        # `next` is the value the next nextval() deals; `last` is the
        # most recently dealt value (currval), None until first deal
        "next": start,
        "last": None,
    }


def try_execute_sequence_ddl(spark, sql: str) -> bool:
    """CREATE/DROP SEQUENCE against the warehouse registry.  Returns
    False when the statement isn't sequence DDL; raises ValueError
    with DuckDB's wording on catalog errors."""
    m = _CREATE_RE.match(sql)
    if m is not None:
        or_replace, if_not_exists = bool(m.group(1)), bool(m.group(2))
        name = _norm(m.group(3))
        spec = _parse_options(sql[m.end():])
        if isinstance(spec, str):
            raise ValueError(f"Parser Error: {spec}")
        path = _store_path(spark)
        with _Locked(path):
            data = _load_file(path)
            if name in data and not or_replace:
                if if_not_exists:
                    return True
                raise ValueError(
                    f'Catalog Error: Sequence with name "{name}" '
                    "already exists!"
                )
            data[name] = spec
            _save_file(path, data)
        return True
    m = _DROP_RE.match(sql)
    if m is not None:
        if_exists = bool(m.group(1))
        name = _norm(m.group(2))
        path = _store_path(spark)
        with _Locked(path):
            data = _load_file(path)
            if name not in data:
                if if_exists:
                    return True
                raise ValueError(
                    f"Catalog Error: Sequence with name {name} "
                    "does not exist!"
                )
            del data[name]
            _save_file(path, data)
        return True
    return False


def list_sequences(spark) -> dict[str, dict[str, Any]]:
    """name → spec, for introspection."""
    return dict(sorted(_load_file(_store_path(spark)).items()))


def _deal_next(path: str, name: str) -> int:
    """Deal one value from the sequence under the registry lock —
    executed inside the nextval UDF (Python worker)."""
    with _Locked(path):
        data = _load_file(path)
        if name not in data:
            raise ValueError(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        s = data[name]
        nxt = s["next"]
        if nxt > s["max"]:
            if not s["cycle"]:
                raise ValueError(
                    "Sequence Error: nextval: reached maximum value of "
                    f'sequence "{name}" ({s["max"]})'
                )
            nxt = s["min"]
        elif nxt < s["min"]:
            if not s["cycle"]:
                raise ValueError(
                    "Sequence Error: nextval: reached minimum value of "
                    f'sequence "{name}" ({s["min"]})'
                )
            nxt = s["max"]
        s["next"] = nxt + s["increment"]
        s["last"] = nxt
        _save_file(path, data)
        return nxt


def _read_curr(path: str, name: str) -> int:
    with _Locked(path):
        data = _load_file(path)
        if name not in data:
            raise ValueError(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        last = data[name]["last"]
        if last is None:
            raise ValueError(
                "Sequence Error: currval: sequence is not yet defined "
                "in this session"
            )
        return last


def _udf_nextval(name, path):
    if name is None:
        return None
    return _deal_next(path, name)


def _udf_currval(name, path):
    if name is None:
        return None
    return _read_curr(path, name)


def register_sequence_udfs(spark) -> None:
    """Idempotent: the two dealing UDFs, nondeterministic so Catalyst
    never folds, caches, or reorders a deal."""
    from pyspark.sql.functions import udf

    spark.udf.register(
        "__seq_nextval", udf(_udf_nextval, "bigint").asNondeterministic()
    )
    spark.udf.register(
        "__seq_currval", udf(_udf_currval, "bigint").asNondeterministic()
    )


def expand_sequence_calls(spark, sql: str) -> tuple[str, bool]:
    """Rewrite constant-name ``nextval('s')``/``currval('s')`` calls to
    the registry-backed UDFs.  Unknown sequences raise DuckDB's catalog
    error at statement time (DuckDB binds sequence names at plan time
    too).  Returns (sql, used)."""
    if not _CALL_RE.search(sql):
        return sql, False
    data = list_sequences(spark)
    states = _scan_states(sql)
    out = []
    last = 0
    used = False
    path_lit = "'" + _store_path(spark).replace("'", "''") + "'"
    for m in _CALL_RE.finditer(sql):
        if states[m.start()] != 0:
            continue
        fn = m.group(1).lower()
        arg = m.group(2)
        if arg.upper() == "NULL":
            repl = "CAST(NULL AS BIGINT)"
        else:
            raw = arg[1:-1].replace("''", "'")
            name = _norm(raw)
            if name not in data:
                raise ValueError(
                    f"Catalog Error: Sequence with name {name} "
                    "does not exist!"
                )
            esc = name.replace("'", "''")
            repl = f"__seq_{fn}('{esc}', {path_lit})"
        out.append(sql[last : m.start()])
        out.append(repl)
        last = m.end()
        used = True
    out.append(sql[last:])
    if used:
        register_sequence_udfs(spark)
    return "".join(out), used
