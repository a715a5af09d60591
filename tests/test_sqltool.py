"""Tests mirror the reference's table-driven cases
(server/core/sql_validation_test.go, server/util/util_test.go semantics)."""

import pytest

from shaper_spark.sqltool import (
    SqlSplitError,
    escape_sql_string,
    is_allowed_statement,
    is_allowed_task_statement,
    split_sql_queries,
    split_with_statement,
    strip_sql_comments,
)


def test_strip_comments_basic():
    assert strip_sql_comments("SELECT 1 -- hi\n, 2") == "SELECT 1 \n, 2"


def test_strip_comments_in_string():
    assert strip_sql_comments("SELECT '--not a comment'") == "SELECT '--not a comment'"
    assert strip_sql_comments('SELECT "a--b"') == 'SELECT "a--b"'


def test_strip_comments_escaped_quote():
    assert strip_sql_comments("SELECT 'it''s -- fine' -- gone") == "SELECT 'it''s -- fine' "


def test_split_basic():
    assert split_sql_queries("SELECT 1; SELECT 2;") == ["SELECT 1", "SELECT 2"]


def test_split_semicolon_in_string():
    assert split_sql_queries("SELECT 'a;b'; SELECT 2") == ["SELECT 'a;b'", "SELECT 2"]


def test_split_unclosed_quote():
    with pytest.raises(SqlSplitError):
        split_sql_queries("SELECT 'oops")


@pytest.mark.parametrize(
    "sql,line",
    [("SELECT 'oops", 1), ("SELECT 1;\nSELECT 'oops", 2), ("SELECT 1;\n\nSELECT \"x\nyz", 3)],
)
def test_split_unclosed_quote_names_its_line(sql, line):
    with pytest.raises(SqlSplitError, match=f"starting in line {line}$"):
        split_sql_queries(sql)


def test_split_keeps_backquoted_semicolon():
    assert split_sql_queries("SELECT 1 AS `a;b`; SELECT 2") == [
        "SELECT 1 AS `a;b`",
        "SELECT 2",
    ]


def test_strip_comments_keeps_backquoted_dashes():
    assert strip_sql_comments("SELECT `a--b` -- gone") == "SELECT `a--b` "


def test_split_unclosed_backquote():
    with pytest.raises(SqlSplitError, match="unclosed backquote"):
        split_sql_queries("SELECT 1; SELECT `oops")


def test_split_empty_statements_dropped():
    assert split_sql_queries(";;  ;SELECT 1;") == ["SELECT 1"]


@pytest.mark.parametrize(
    "sql,ok",
    [
        ("SELECT 1", True),
        ("select * from t", True),
        ("FROM t", True),
        ("VALUES (1, 2)", True),
        ("SUMMARIZE t", True),
        ("DESCRIBE t", True),
        ("SHOW TABLES", True),
        ("SHOW ALL TABLES", True),
        ("PIVOT t ON x", True),
        ("EXPLAIN SELECT 1", True),
        ("EXPLAIN ANALYZE SELECT 1", True),
        ("WITH x AS (SELECT 1) SELECT * FROM x", True),
        ("WITH RECURSIVE x AS (SELECT 1) SELECT * FROM x", True),
        ("WITH x AS (INSERT INTO t VALUES (1)) SELECT 1", False),
        ("(SELECT 1) UNION (SELECT 2)", True),
        ("(SELECT 1) UNION ALL (SELECT 2)", True),
        ("(SELECT 1) INTERSECT (SELECT 2)", True),
        ("(SELECT 1) ORDER BY 1", True),
        ("(SELECT 1) LIMIT 3", True),
        ("(INSERT INTO t VALUES (1))", False),
        ("INSERT INTO t VALUES (1)", False),
        ("UPDATE t SET x = 1", False),
        ("DELETE FROM t", False),
        ("DROP TABLE t", False),
        ("CREATE TABLE t (x INT)", False),
        ("CREATE TEMP TABLE t AS SELECT 1", True),
        ("CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1", True),
        ("CREATE TEMP MACRO m() AS 1", True),
        ("SET VARIABLE x = 1", True),
        ("SET threads = 4", False),
        ("RESET VARIABLE x", True),
        ("USE db", True),
        ("CALL f()", True),
        ("BEGIN", True),
        ("COMMIT", True),
        ("PRAGMA version", False),
        ("SELECTX", False),
        ("", True),
    ],
)
def test_is_allowed_statement(sql, ok):
    assert is_allowed_statement(sql) is ok


def test_attach_memory_mode():
    assert is_allowed_statement("ATTACH 'x.db'", memory_mode=True)
    assert not is_allowed_statement("ATTACH 'x.db'", memory_mode=False)


@pytest.mark.parametrize(
    "sql,ok",
    [
        ("INSERT INTO t VALUES (1)", True),
        ("CREATE TABLE t AS SELECT 1", True),
        ("DELETE FROM t", True),
        ("PRAGMA version", False),
        ("SET threads = 4", False),
        ("SET VARIABLE x = 1", True),
        ("RESET memory_limit", False),
        ("RESET VARIABLE x", True),
        ("INSTALL httpfs", True),
        ("LOAD httpfs", True),
        ("ATTACH 'd.db'", True),
        ("DETACH d", True),
        ("CREATE SECRET s (TYPE S3)", True),
        ("WITH x AS (SELECT 1) INSERT INTO t SELECT * FROM x", True),
        ("WITH x AS (PRAGMA version) SELECT 1", False),
    ],
)
def test_is_allowed_task_statement(sql, ok):
    assert is_allowed_task_statement(sql) is ok


def test_split_with():
    main, ctes = split_with_statement(
        "WITH a AS (SELECT 1), b(x) AS (SELECT 2) SELECT * FROM a, b"
    )
    assert ctes == ["SELECT 1", "SELECT 2"]
    assert main == "SELECT * FROM a, b"


def test_escape():
    assert escape_sql_string("o'brien\nx") == "o''brien x"


@pytest.mark.parametrize(
    "sql,ok",
    [
        # remaining reference cases (sql_validation_test.go:13-77)
        ("EXPLAIN", True),
        ("EXPLAIN ANALYZE", True),
        ("EXPLAIN DROP TABLE x", False),
        ("EXPLAIN ANALYZE DROP TABLE x", False),
        ('SELECT "DROP" FROM t', True),
        ('WITH "my table" AS (SELECT 1) SELECT * FROM "my table"', True),
        ("WITH t(a, b) AS (SELECT 1, 2) SELECT * FROM t", True),
        ("WITH t1 AS (SELECT 1), t2 AS (SELECT 2) SELECT * FROM t1, t2", True),
        ("WITH t AS (SELECT 1) DROP TABLE x", False),
        ("(SELECT 1) UNION (DROP TABLE x)", False),
        ("((SELECT 1) UNION (SELECT 2))", True),
        ("(DROP TABLE x)", False),
        ("ATTACH 'file.db' AS other", False),  # dashboards: not memory mode
        ("SETTINGS", False),  # keyword-prefix false match
        ("   ", True),
    ],
)
def test_reference_gate_parity(sql, ok):
    from shaper_spark import sqltool

    assert sqltool.is_allowed_statement(sql) is ok
