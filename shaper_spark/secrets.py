"""DuckDB-style ``CREATE SECRET`` re-expressed as Spark runtime
credentials.

The reference surfaces DuckDB's secret store through introspection
(``server/core/duckdb_schema.go:55-87`` selects name/type/provider/
scope from ``duckdb_secrets()``) and permits ``CREATE SECRET`` in
tasks (``server/core/sql_validation.go``). The Spark-first mapping:
an S3-type secret becomes the ``fs.s3a.*`` Hadoop credentials the
scans actually use — scoped secrets map to s3a's PER-BUCKET
configuration (``fs.s3a.bucket.<bucket>.access.key``), which is
exactly DuckDB's scope-prefix semantics at the filesystem layer, and
unscoped secrets set the global keys. GCS secrets map to ``fs.gs.*``.
Other types (HTTP bearer etc.) are stored and introspectable but have
no Spark-side wiring.

Secrets live in a process-level registry (DuckDB's secret store is
engine-wide, not per-connection); values never leave the registry —
``list_secrets`` returns only name/type/provider/scope, mirroring the
redacted ``duckdb_secrets()`` output the reference reads.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .sqltool import _find_matching_close, _scan_states

__all__ = ["try_execute_secret", "list_secrets", "clear_secrets"]

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?"
    r"(?:PERSISTENT\s+|TEMPORARY\s+|TEMP\s+)?SECRET\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)?\s*\(",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+(?:PERSISTENT\s+|TEMPORARY\s+|TEMP\s+)?SECRET\s+"
    r"(?:IF\s+EXISTS\s+)?(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.IGNORECASE,
)
# KEY 'value' | KEY ('a', 'b') — DuckDB's option list
_OPT_RE = re.compile(
    r"(?P<key>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"(?:'(?P<val>(?:[^']|'')*)'|\((?P<list>[^)]*)\)|(?P<bare>[A-Za-z0-9_.:/-]+))"
)


@dataclass
class _Secret:
    name: str
    type: str
    provider: str = "config"
    scope: list[str] = field(default_factory=list)
    params: dict[str, str] = field(default_factory=dict)
    applied_confs: list[str] = field(default_factory=list)


_LOCK = threading.Lock()
_SECRETS: dict[str, _Secret] = {}

# DuckDB S3 option -> s3a conf suffix (the subset with a real
# filesystem-layer counterpart)
_S3_CONF = {
    "KEY_ID": "access.key",
    "SECRET": "secret.key",
    "SESSION_TOKEN": "session.token",
    "ENDPOINT": "endpoint",
    "REGION": "endpoint.region",
}


def _hadoop_conf(spark: SparkSession):
    return spark.sparkContext._jsc.hadoopConfiguration()


def _bucket_of(scope: str) -> str | None:
    m = re.match(r"^(?:s3a?|gs)://([^/]+)", scope)
    return m.group(1) if m else None


def _apply(spark: SparkSession, secret: _Secret) -> None:
    conf = _hadoop_conf(spark)
    if secret.type.upper() == "S3":
        buckets = [b for b in map(_bucket_of, secret.scope) if b]
        prefixes = (
            [f"fs.s3a.bucket.{b}." for b in buckets]
            if buckets
            else ["fs.s3a."]
        )
        for opt, suffix in _S3_CONF.items():
            if opt in secret.params:
                for p in prefixes:
                    key = p + suffix
                    conf.set(key, secret.params[opt])
                    secret.applied_confs.append(key)
        if secret.params.get("URL_STYLE", "").lower() == "path":
            for p in prefixes:
                key = p + "path.style.access"
                conf.set(key, "true")
                secret.applied_confs.append(key)
    elif secret.type.upper() == "GCS":
        if "KEY_ID" in secret.params:
            conf.set("fs.gs.auth.access.key", secret.params["KEY_ID"])
            secret.applied_confs.append("fs.gs.auth.access.key")
        if "SECRET" in secret.params:
            conf.set("fs.gs.auth.secret.key", secret.params["SECRET"])
            secret.applied_confs.append("fs.gs.auth.secret.key")
    # other types: introspectable only


def _unapply(spark: SparkSession, secret: _Secret) -> None:
    conf = _hadoop_conf(spark)
    for key in secret.applied_confs:
        try:
            conf.unset(key)
        except Exception:
            pass


def try_execute_secret(spark: SparkSession, sql: str) -> bool:
    """Execute a CREATE/DROP SECRET statement; False if ``sql`` isn't
    one (caller falls through to its normal path)."""
    m = _DROP_RE.match(sql)
    if m:
        name = m.group("name").lower()
        with _LOCK:
            secret = _SECRETS.pop(name, None)
        if secret is not None:
            _unapply(spark, secret)
        elif "IF EXISTS" not in sql.upper():
            raise ValueError(f"secret {name!r} not found")
        return True
    m = _CREATE_RE.match(sql)
    if not m:
        return False
    # close is -1 for an unclosed body, which then ends one character
    # short of the text's end
    close = _find_matching_close(sql, m.end() - 1, _scan_states(sql))
    body = sql[m.end() : close]
    params: dict[str, str] = {}
    scope: list[str] = []
    stype = provider = ""
    for om in _OPT_RE.finditer(body):
        key = om.group("key").upper()
        if om.group("list") is not None:
            vals = re.findall(r"'((?:[^']|'')*)'", om.group("list"))
            vals = [v.replace("''", "'") for v in vals]
        else:
            raw = (
                om.group("val")
                if om.group("val") is not None
                else om.group("bare") or ""
            )
            vals = [raw.replace("''", "'")]
        if key == "TYPE":
            stype = vals[0]
        elif key == "PROVIDER":
            provider = vals[0]
        elif key == "SCOPE":
            scope.extend(vals)
        else:
            params[key] = vals[0]
    if not stype:
        raise ValueError("CREATE SECRET requires TYPE")
    name = (m.group("name") or f"__default_{stype}").lower()
    upper = sql.upper()
    with _LOCK:
        exists = name in _SECRETS
        if exists and "IF NOT EXISTS" in upper:
            return True
        if exists and "OR REPLACE" not in upper:
            raise ValueError(f"secret {name!r} already exists")
        old = _SECRETS.get(name)
        secret = _Secret(
            name=name,
            type=stype.lower(),
            provider=(provider or "config").lower(),
            scope=scope,
            params=params,
        )
        _SECRETS[name] = secret
    if old is not None:
        _unapply(spark, old)
    _apply(spark, secret)
    return True


def list_secrets() -> list[tuple[str, str, str, str]]:
    """(name, type, provider, scope) rows — the redacted projection
    duckdb_secrets() exposes; values never leave the registry."""
    with _LOCK:
        return sorted(
            (s.name, s.type, s.provider, ";".join(s.scope))
            for s in _SECRETS.values()
        )


def clear_secrets(spark: SparkSession | None = None) -> None:
    with _LOCK:
        secrets = list(_SECRETS.values())
        _SECRETS.clear()
    if spark is not None:
        for s in secrets:
            _unapply(spark, s)
