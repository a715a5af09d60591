"""UPDATE / DELETE on warehouse tables via copy-on-write rewrite.

The reference runs tasks on DuckDB, where arbitrary DML just works
(server/core/run_task.go:67-258 imposes no statement shape). Spark's
parquet tables reject UPDATE/DELETE, so this module rewrites them into
the copy-on-write plan a lakehouse format would execute:

  DELETE FROM t WHERE c   →  keep = t WHERE NOT coalesce(c, false)
  UPDATE t SET a=e WHERE c →  projected = CASE WHEN c THEN e ELSE a END

then materializes the result into a staging table and
``INSERT OVERWRITE``-s the target (Spark refuses to overwrite a table
it is reading in the same plan, and at scale you want the staging write
to complete before the destructive swap anyway). Affected-row counts
are returned the way DuckDB reports them (a single ``Count`` column).

Scale note: this is whole-table copy-on-write — O(table) per statement,
the same cost class as Delta/Iceberg without deletion vectors. On a
real deployment you would back tasks with such a format and let its
MERGE/DELETE do file-level pruning; the statement surface here is
identical, so swapping the executor is localized to this module.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession, functions as F

from .sqltool import _depth0_matches, _split_top_level_args

__all__ = ["try_execute_dml", "alter_rename_column"]

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s+SET\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)


# clause keywords; only a letter or a digit joins a word here, so
# ``a_WHERE`` holds WHERE
_USING_RE, _WHERE_RE, _FROM_RE = (
    re.compile(rf"(?<![^\W_]){w}(?![^\W_])", re.IGNORECASE)
    for w in ("USING", "WHERE", "FROM")
)


def _swap_in(spark: SparkSession, table: str, df) -> None:
    """Materialize df into a staging table, then overwrite the target.

    Two steps on purpose: the staging write is the expensive, failable
    part and completes before any destructive change to the target."""
    # The regex may capture a backtick-quoted target (UPDATE `my table`):
    # derive the staging name from the bare identifier and re-quote, so
    # the suffix lands inside the quotes.  Unquoted (possibly dotted)
    # names take the suffix verbatim — the staging table stays in the
    # target's database.
    if table.startswith("`"):
        staging = f"`{table.strip('`')}__dml_staging`"
    else:
        staging = f"{table}__dml_staging"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    df.write.saveAsTable(staging)
    try:
        spark.table(staging).write.insertInto(table, overwrite=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        from .plancache import bump

        bump()  # table data changed: flush memoized analyzed plans


def try_execute_dml(
    spark: SparkSession, sql_string: str
) -> tuple[list[str], list[list]] | None:
    """Execute an UPDATE/DELETE statement; return (column_names, rows)
    DuckDB-style (``Count`` = affected rows), or None if the statement
    is not DML this module handles."""
    m = _DELETE_RE.match(sql_string)
    if m:
        table, rest = m.group(1), m.group(2).strip().rstrip(";").strip()
        cond = None
        using = None
        if rest:
            um = _depth0_matches(rest, _USING_RE)
            if um and um[0].start() == 0:
                # DELETE FROM t USING u[, v] WHERE cond — DuckDB/
                # Postgres join-delete: drop t rows for which ANY
                # using-row satisfies cond (EXISTS semantics)
                tail = rest[um[0].end() :]
                wm = _depth0_matches(tail, _WHERE_RE)
                if not wm:
                    return None
                using = tail[: wm[0].start()].strip()
                cond = tail[wm[0].end() :].strip()
                exists = f"EXISTS (SELECT 1 FROM {using} WHERE {cond})"
                affected = spark.sql(
                    f"SELECT count(*) FROM {table} WHERE {exists}"
                ).collect()[0][0]
                keep = spark.sql(
                    f"SELECT {table}.* FROM {table} WHERE NOT {exists}"
                )
                _swap_in(spark, table, keep)
                return ["Count"], [[affected]]
            wm = _depth0_matches(rest, _WHERE_RE)
            if not wm or wm[0].start() != 0:
                return None  # unsupported shape
            cond = rest[wm[0].end() :].strip()
        src = spark.table(table)
        if cond is None:
            affected = src.count()
            keep = src.limit(0)
        else:
            affected = src.where(F.expr(f"coalesce(({cond}), false)")).count()
            keep = src.where(F.expr(f"NOT coalesce(({cond}), false)"))
        _swap_in(spark, table, keep)
        return ["Count"], [[affected]]

    m = _UPDATE_RE.match(sql_string)
    if m:
        table, rest = m.group(1), m.group(2).strip().rstrip(";").strip()
        cond = None
        from_tables = None
        fm = _depth0_matches(rest, _FROM_RE)
        if fm:
            # UPDATE t SET c = expr FROM u WHERE cond (DuckDB/
            # Postgres join-update): rows with a match take the
            # expression evaluated against a matching u-row
            # (correlated first() — an arbitrary one when several
            # match, DuckDB leaves that undefined too); others keep
            # their value
            tail = rest[fm[0].end() :]
            wm = _depth0_matches(tail, _WHERE_RE)
            if not wm:
                return None
            from_tables = tail[: wm[0].start()].strip()
            cond = tail[wm[0].end() :].strip()
            rest = rest[: fm[0].start()].strip()
        elif wm := _depth0_matches(rest, _WHERE_RE):
            cond = rest[wm[0].end() :].strip()
            rest = rest[: wm[0].start()].strip()
        assignments: dict[str, str] = {}
        for part in _split_top_level_args(rest):
            eq = part.find("=")
            if eq < 0:
                return None
            col = part[:eq].strip().strip("`")
            assignments[col.lower()] = part[eq + 1 :].strip()
        src = spark.table(table)
        schema = {f.name.lower(): f for f in src.schema.fields}
        for col in assignments:
            if col not in schema:
                raise ValueError(f"UPDATE: no column {col!r} in {table}")
        # enum-typed columns get the membership guard (enums.py): an
        # unregistered value raise_error()s before the swap commits,
        # matching DuckDB's cast-to-enum conversion error.
        from .enums import enum_guard_for_column

        for col, expr in list(assignments.items()):
            guarded = enum_guard_for_column(spark, table, col, expr)
            if guarded is not None:
                assignments[col] = guarded
        if from_tables is not None:
            matched = f"EXISTS (SELECT 1 FROM {from_tables} WHERE {cond})"
            cols_sql = []
            for f in src.schema.fields:
                expr = assignments.get(f.name.lower())
                if expr is None:
                    cols_sql.append(f"{table}.`{f.name}`")
                else:
                    sub = (
                        f"(SELECT first(({expr})) FROM {from_tables} "
                        f"WHERE {cond})"
                    )
                    cols_sql.append(
                        f"CASE WHEN {matched} THEN CAST({sub} AS "
                        f"{f.dataType.simpleString()}) ELSE "
                        f"{table}.`{f.name}` END AS `{f.name}`"
                    )
            affected = spark.sql(
                f"SELECT count(*) FROM {table} WHERE {matched}"
            ).collect()[0][0]
            new_df = spark.sql(
                f"SELECT {', '.join(cols_sql)} FROM {table}"
            )
            _swap_in(spark, table, new_df)
            return ["Count"], [[affected]]
        projected = []
        for f in src.schema.fields:
            expr = assignments.get(f.name.lower())
            if expr is None:
                projected.append(F.col(f.name))
            elif cond is None:
                projected.append(
                    F.expr(f"CAST(({expr}) AS {f.dataType.simpleString()})").alias(
                        f.name
                    )
                )
            else:
                projected.append(
                    F.expr(
                        f"CASE WHEN coalesce(({cond}), false) "
                        f"THEN CAST(({expr}) AS {f.dataType.simpleString()}) "
                        f"ELSE `{f.name}` END"
                    ).alias(f.name)
                )
        affected = (
            src.count()
            if cond is None
            else src.where(F.expr(f"coalesce(({cond}), false)")).count()
        )
        _swap_in(spark, table, src.select(*projected))
        return ["Count"], [[affected]]

    return None


_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s+RENAME\s+COLUMN\s+"
    r"(`[^`]+`|\w+)\s+TO\s+(`[^`]+`|\w+)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def alter_rename_column(spark: SparkSession, sql_string: str) -> None:
    """``ALTER TABLE t RENAME COLUMN a TO b`` for v1 parquet catalog
    tables (which reject the native command): copy-on-write through a
    staging table, like UPDATE/DELETE — the staging write completes
    before anything destructive touches the target."""
    m = _RENAME_COL_RE.match(sql_string)
    if m is None:
        raise ValueError(f"unsupported ALTER RENAME form: {sql_string!r}")
    table, old, new = m.group(1), m.group(2).strip("`"), m.group(3).strip("`")
    src = spark.table(table)
    if old not in src.columns:
        raise ValueError(f"RENAME COLUMN: no column {old!r} in {table}")
    df = src.withColumnRenamed(old, new)
    if table.startswith("`"):
        staging = f"`{table.strip('`')}__dml_staging`"
    else:
        staging = f"{table}__dml_staging"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    df.write.saveAsTable(staging)
    try:
        # schema changes: the target is recreated, not overwritten
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.table(staging).write.saveAsTable(table)
        # only a SUCCESSFUL target write releases the staging copy —
        # on failure the staging table survives as the data's sole
        # remaining home (r11 ADVICE: the old finally-drop lost both
        # copies when the write failed mid-flight)
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
    finally:
        from .plancache import bump

        bump()
