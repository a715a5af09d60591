"""SQL-callable DuckDB catalog table functions.

The reference's schema handler queries ``duckdb_databases()``,
``duckdb_schemas()``, ``duckdb_tables()``, ``duckdb_columns()``,
``duckdb_views()``, ``duckdb_types()``, ``duckdb_constraints()``,
``duckdb_extensions()`` and ``duckdb_secrets()`` as ordinary FROM-able
table functions (reference: server/core/duckdb_schema.go:21-287), and
users paste the same queries into dashboards.  Spark has no Python API
for registering table functions, so the engine expands each call
textually to a per-call temp view (``duckdb_tables()`` →
``__duckdb_tables``) materialized fresh from the session catalog —
metadata-only (spark.catalog list* calls, never data), tiny frames,
rebuilt on every statement that mentions one so the snapshot is always
current.  Statements that use them bypass the analyzed-plan cache for
the same reason.

Catalog mapping: DuckDB's database → the current Spark catalog name;
DuckDB's schema → the Spark database (namespace); temp views belong to
the current namespace, mirroring introspect.get_schema; ``types``
serves the emulated ENUM registry (enums.py, r12).  ``types``/
``constraints`` exist with the reference's column shapes but are
empty for constraints — Spark has no table constraints (documented in
MIGRATION.md; the reference handler tolerates empty result sets).
``secrets`` serves the live redacted registry from ``secrets.py``
(CREATE SECRET → Hadoop/s3a credentials), and ``extensions`` reports
the session's real extension surface (core data sources +
``spark.sql.extensions`` classes).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from .sqltool import _code_matches

__all__ = ["expand_table_functions", "TABLE_FUNCTIONS"]

TABLE_FUNCTIONS = (
    "databases",
    "schemas",
    "tables",
    "columns",
    "views",
    "types",
    "constraints",
    "extensions",
    "secrets",
    "sequences",
)

_CALL_RE = re.compile(
    r"\bduckdb_(" + "|".join(TABLE_FUNCTIONS) + r")\s*\(\s*\)",
    re.IGNORECASE,
)

_EMPTY_SCHEMAS = {
    "types": (
        "database_name string, schema_name string, type_name string, "
        "logical_type string, internal boolean"
    ),
    "constraints": (
        "database_name string, schema_name string, table_name string, "
        "constraint_type string, constraint_column_names array<string>"
    ),
}


def expand_table_functions(spark: SparkSession, sql: str) -> tuple[str, bool]:
    """Replace ``duckdb_<fn>()`` calls with freshly materialized
    ``__duckdb_<fn>`` temp views.  Returns (rewritten_sql, used) —
    ``used`` tells the caller to skip the analyzed-plan cache (the
    views are per-call snapshots).  Occurrences inside single-quoted
    string literals are left untouched (``SELECT 'duckdb_tables()'``
    is data, not a call — r5 advice), and so are those inside quoted
    identifiers."""
    names: set[str] = set()
    out: list[str] = []
    last = 0
    for m in _code_matches(sql, _CALL_RE):
        name = m.group(1).lower()
        names.add(name)
        out.append(sql[last : m.start()])
        out.append(f"__duckdb_{name}")
        last = m.end()
    if not names:
        return sql, False
    out.append(sql[last:])
    for name in names:
        _materialize(spark, name)
    return "".join(out), True


def _materialize(spark: SparkSession, name: str) -> None:
    if name == "types":
        # registered ENUM emulations (enums.py) — the rows the
        # reference's introspection reads (duckdb_schema.go:127-133:
        # type_name WHERE logical_type = 'ENUM' AND NOT internal)
        from .enums import list_enums

        cur = spark.catalog.currentDatabase()
        cat = spark.catalog.currentCatalog()
        spark.createDataFrame(
            [(cat, cur, n, "ENUM", False) for n in list_enums(spark)],
            _EMPTY_SCHEMAS["types"],
        ).createOrReplaceTempView(f"__duckdb_{name}")
        return
    if name == "sequences":
        # the registered sequence emulations (sequences.py, r13) in
        # DuckDB 1.0's duckdb_sequences() projection
        from .sequences import list_sequences

        cur = spark.catalog.currentDatabase()
        cat = spark.catalog.currentCatalog()
        rows = []
        for n, s in list_sequences(spark).items():
            rows.append(
                (
                    cat, cur, n, False, s["start"], s["min"], s["max"],
                    s["increment"], s["cycle"],
                    s["last"] if s["last"] is not None else None,
                )
            )
        spark.createDataFrame(
            rows,
            "database_name string, schema_name string, sequence_name "
            "string, temporary boolean, start_value long, min_value "
            "long, max_value long, increment_by long, cycle boolean, "
            "last_value long",
        ).createOrReplaceTempView(f"__duckdb_{name}")
        return
    if name in _EMPTY_SCHEMAS:
        spark.createDataFrame(
            [], _EMPTY_SCHEMAS[name]
        ).createOrReplaceTempView(f"__duckdb_{name}")
        return
    if name == "secrets":
        # live redacted view of the engine secret store (secrets.py) —
        # the projection the reference reads (duckdb_schema.go:55-87)
        from .secrets import list_secrets

        spark.createDataFrame(
            list_secrets(),
            "name string, type string, provider string, scope string",
        ).createOrReplaceTempView(f"__duckdb_{name}")
        return
    if name == "extensions":
        # Spark's extension surface, honestly reported: the always-on
        # core data sources (DuckDB lists its core extensions the same
        # way) plus any spark.sql.extensions classes wired into this
        # session (loaded by definition — Spark has no install-but-not-
        # load state).
        rows = [
            (ds, f"core {ds} data source", True, True)
            for ds in ("parquet", "json", "csv", "orc", "text", "jdbc")
        ]
        try:
            ext = spark.conf.get("spark.sql.extensions") or ""
        except Exception:
            ext = ""
        rows += [
            (cls.strip(), "SparkSessionExtensions class", True, True)
            for cls in ext.split(",")
            if cls.strip()
        ]
        spark.createDataFrame(
            rows,
            "extension_name string, description string, loaded boolean, "
            "installed boolean",
        ).createOrReplaceTempView(f"__duckdb_{name}")
        return
    from .introspect import get_schema

    tree = get_schema(spark)
    rows: list[tuple] = []
    if name == "databases":
        rows = [(d.name, False) for d in tree.databases]
        schema = "database_name string, internal boolean"
    elif name == "schemas":
        rows = [
            (d.name, s.name, False)
            for d in tree.databases
            for s in d.schemas
        ]
        schema = "database_name string, schema_name string, internal boolean"
    elif name == "tables":
        rows = [
            (
                d.name,
                s.name,
                t.name,
                False,
                t.is_temporary,
                t.comment or None,
                len(t.columns),
            )
            for d in tree.databases
            for s in d.schemas
            for t in s.tables
        ]
        schema = (
            "database_name string, schema_name string, table_name string, "
            "internal boolean, temporary boolean, comment string, "
            "column_count int"
        )
    elif name == "views":
        rows = [
            (d.name, s.name, v.name, False, v.definition, v.comment or None)
            for d in tree.databases
            for s in d.schemas
            for v in s.views
        ]
        schema = (
            "database_name string, schema_name string, view_name string, "
            "internal boolean, sql string, comment string"
        )
    elif name == "columns":
        rows = [
            (
                d.name,
                s.name,
                t.name,
                c.name,
                i,
                False,
                c.type,
                c.nullable,
                c.default,
                c.comment or None,
            )
            for d in tree.databases
            for s in d.schemas
            for t in s.tables
            for i, c in enumerate(t.columns, start=1)
        ]
        schema = (
            "database_name string, schema_name string, table_name string, "
            "column_name string, column_index int, internal boolean, "
            "data_type string, is_nullable boolean, column_default string, "
            "comment string"
        )
    else:  # pragma: no cover — regex restricts names
        raise ValueError(f"unknown duckdb table function {name!r}")
    spark.createDataFrame(rows, schema).createOrReplaceTempView(
        f"__duckdb_{name}"
    )


# information_schema.{tables,columns,schemata} (r11): ANSI
# introspection DuckDB exposes and pasted dashboards query.  Same
# per-statement snapshot-view mechanism; the commonly-queried leading
# columns are provided (the exotic ANSI tail — identity/collation/
# UDT columns — is omitted, a loud absence rather than silent NULLs).
_INFO_SCHEMA_RE = re.compile(
    r"\binformation_schema\s*\.\s*(tables|columns|schemata)\b",
    re.IGNORECASE,
)


def _materialize_info_schema(spark: SparkSession, name: str) -> None:
    from .introspect import get_schema

    tree = get_schema(spark)
    if name == "schemata":
        rows = [
            (d.name, s.name, None)
            for d in tree.databases
            for s in d.schemas
        ]
        schema = "catalog_name string, schema_name string, schema_owner string"
    elif name == "tables":
        rows = []
        for d in tree.databases:
            for s in d.schemas:
                # a temp view appears in both introspection lists —
                # information_schema lists each relation ONCE (as VIEW)
                view_names = {v.name for v in s.views}
                for t in s.tables:
                    if t.name in view_names:
                        continue
                    rows.append(
                        (d.name, s.name, t.name, "BASE TABLE", "YES",
                         "NO", t.comment or None)
                    )
                for v in s.views:
                    rows.append(
                        (d.name, s.name, v.name, "VIEW", "NO", "NO",
                         v.comment or None)
                    )
        schema = (
            "table_catalog string, table_schema string, "
            "table_name string, table_type string, "
            "is_insertable_into string, is_typed string, "
            "TABLE_COMMENT string"
        )
    else:  # columns
        from .udfs import _duckdb_typename

        rows = [
            (
                d.name,
                s.name,
                t.name,
                c.name,
                i,
                c.default,
                "YES" if c.nullable else "NO",
                _duckdb_typename(c.type),
                c.comment or None,
            )
            for d in tree.databases
            for s in d.schemas
            for t in s.tables
            for i, c in enumerate(t.columns, start=1)
        ]
        schema = (
            "table_catalog string, table_schema string, "
            "table_name string, column_name string, "
            "ordinal_position int, column_default string, "
            "is_nullable string, data_type string, "
            "COLUMN_COMMENT string"
        )
    spark.createDataFrame(rows, schema).createOrReplaceTempView(
        f"__info_schema_{name}"
    )


def expand_information_schema(
    spark: SparkSession, sql: str
) -> tuple[str, bool]:
    """Replace ``information_schema.<view>`` references with freshly
    materialized ``__info_schema_<view>`` snapshot views; references
    inside quoted spans are text."""
    names: set[str] = set()
    out: list[str] = []
    last = 0
    for m in _code_matches(sql, _INFO_SCHEMA_RE):
        name = m.group(1).lower()
        names.add(name)
        out.append(sql[last : m.start()])
        out.append(f"__info_schema_{name}")
        last = m.end()
    if not names:
        return sql, False
    out.append(sql[last:])
    for name in names:
        _materialize_info_schema(spark, name)
    return "".join(out), True
