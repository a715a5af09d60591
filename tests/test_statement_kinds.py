"""The statement-kind table (``engine._STATEMENT_KINDS``): which row a
statement lands on, checked from text alone. Nothing here starts Spark."""

import pytest

from shaper_spark import engine, sqltool

# (sample statement, the handler of the row it must land on); every row
# has a sample. Where a statement matches two rows the earlier row must
# win (COPY FROM before the COPY TO row, which takes any COPY; INSERT OR
# REPLACE before INSERT … RETURNING), so a reordering that shadows a row
# fails here.
SAMPLES = [
    ("SET VARIABLE x = 1", "_set_variable"),
    ("RESET VARIABLE x", "_reset_variable"),
    ("CREATE MACRO add2(a, b) AS a + b", "_create_macro"),
    ("CREATE OR REPLACE TEMP FUNCTION f(a) AS a + 1", "_create_macro"),
    ("CREATE SECRET s (TYPE s3, KEY_ID 'k')", "_run_secret"),
    ("DROP TEMP SECRET s", "_run_secret"),
    ("BEGIN TRANSACTION", "_no_op"),
    ("USE analytics", "_run_command"),
    ("CREATE OR REPLACE TEMP VIEW v AS SELECT 1", "_run_command"),
    ("CREATE OR REPLACE TEMPORARY TABLE t AS SELECT 1", "_run_command"),
    ("ATTACH 'data/x.parquet' AS x", "_run_attach"),
    ("CREATE TYPE mood AS ENUM ('ok', 'sad')", "_run_type_ddl"),
    ("DROP SEQUENCE seq", "_run_sequence_ddl"),
    ("EXPLAIN ANALYZE SELECT 1", "_run_explain"),
    ("SHOW ALL TABLES", "_show_tables"),
    ("DESCRIBE SELECT 1 AS x", "_describe"),
    ("CHECKPOINT", "_no_op"),
    ("COMPACT TABLE events ORDER BY ts", "_compact_table"),
    ("COPY events FROM 'in.csv' (HEADER)", "_run_copy_from"),
    ("COPY (SELECT * FROM events) TO 'out.csv' (HEADER)", "_run_copy_to"),
    ("COPY (SELECT * FROM 'in.parquet') TO 'out.csv'", "_run_copy_to"),
    ("EXPORT DATABASE 'snap' (FORMAT parquet)", "_export_import_database"),
    ("INSERT OR REPLACE INTO t VALUES (1) RETURNING *", "_refuse_insert_or_replace"),
    ("INSERT INTO t (a) VALUES (1) RETURNING a", "_insert_returning"),
    ("CREATE OR REPLACE TABLE t AS SELECT 1 AS a", "_create_or_replace_table"),
    ("TRUNCATE t", "_truncate"),
    ("ALTER TABLE t RENAME COLUMN a TO b", "_rename_column"),
    ("DELETE FROM t WHERE a = 1", "_run_dml"),
]

# statements no row matches: they take the plain query path
PLAIN = [
    "SELECT 1",
    "(SELECT 1) UNION ALL (SELECT 2)",
    "WITH a AS (SELECT 1) SELECT * FROM a",
    "FROM region SELECT r_name",
    "SUMMARIZE region",
    "PIVOT region ON r_name",
    "SHOW TABLES IN db",
    "TRUNCATE TABLE t",
    "INSERT INTO t SELECT 1",
    "CREATE TABLE t AS FROM region",
]


@pytest.mark.parametrize("sql,handler", SAMPLES)
def test_sample_lands_on_its_row(sql, handler):
    kind = engine._statement_kind(sql)
    assert kind is not None and kind.handler.__name__ == handler


def test_every_row_has_a_sample():
    hit = {engine._STATEMENT_KINDS.index(engine._statement_kind(s)) for s, _ in SAMPLES}
    assert hit == set(range(len(engine._STATEMENT_KINDS)))


@pytest.mark.parametrize("sql", PLAIN)
def test_plain_statements_match_no_row(sql):
    assert engine._statement_kind(sql) is None


def _complete(prefix: list[str]) -> str:
    """A valid statement that starts with the side-effect prefix."""
    text = " ".join(prefix)
    if prefix[:2] == ["SET", "VARIABLE"]:
        return text + " x = 1"
    if prefix[0] == "CREATE" and prefix[-1] == "SECRET":
        return text + " s (TYPE s3, KEY_ID 'k')"
    tail = {
        "USE": " analytics",
        "CALL": " refresh()",
        "VARIABLE": " x",
        "SECRET": " s",
        "TABLE": " t AS SELECT 1",
        "VIEW": " v AS SELECT 1",
        "MACRO": " f(a) AS a + 1",
        "FUNCTION": " f(a) AS a + 1",
        "EXISTS": " f(a) AS a + 1",
    }
    return text + tail.get(prefix[-1], "")


@pytest.mark.parametrize(
    "prefix", sqltool.SIDE_EFFECT_STATEMENTS, ids=" ".join
)
def test_side_effect_prefixes_land_on_side_effect_rows(prefix):
    sql = _complete(prefix)
    assert sqltool.is_side_effect(sql)
    kind = engine._statement_kind(sql)
    assert kind is not None and kind.side_effect


@pytest.mark.parametrize(
    "head", sqltool.ALLOWED_READ_STATEMENTS, ids=" ".join
)
def test_read_heads_land_on_no_side_effect_row(head):
    sql = " ".join(head) + (" SELECT 1" if head == ["EXPLAIN"] else " region")
    assert sqltool.is_allowed_statement(sql)
    kind = engine._statement_kind(sql)
    assert kind is None or not kind.side_effect


def test_non_temp_macro_is_a_task_side_effect_only():
    sql = "CREATE MACRO sm(a, b) AS a + b"
    assert engine._statement_kind(sql).side_effect
    assert not sqltool.is_allowed_statement(sql)


@pytest.mark.parametrize(
    "sql,prefetchable",
    [
        ("SELECT 1", True),
        ("WITH a AS (SELECT 1) SELECT * FROM a", True),
        ("SELECT nextval('seq')", False),
        ("EXPLAIN SELECT 1", False),
        ("DESCRIBE region", False),
        ("SUMMARIZE region", False),
        ("SET VARIABLE x = 1", False),
    ],
)
def test_classify_takes_the_row(sql, prefetchable):
    st = engine._classify(0, sql)
    assert st.prefetchable is prefetchable
    kind = engine._statement_kind(sql)
    assert st.side_effect is (kind is not None and kind.side_effect)
