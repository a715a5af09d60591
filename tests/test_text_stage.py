"""One text stage: every statement that wraps a query sends that query,
and only that query, through ``engine._prepare_query``.

Each form below wraps a query that needs the engine's expanders (UNION
ALL BY NAME, COLUMNS) and must give the plain query's rows, row count
or schema: on the dashboard path, on the task path and in init SQL.
"""

import csv
import io
import os
import shutil
from urllib.parse import urlparse

import pytest

from shaper_spark.engine import query_dashboard
from shaper_spark.exports import format_value, stream_dashboard_export
from shaper_spark.tasks import execute_task, run_init_sql

BY_NAME = (
    "SELECT r_name FROM region UNION ALL BY NAME SELECT r_name FROM region"
)
COLUMNS = "SELECT COLUMNS('r_regionkey|r_name') FROM region"

# name -> (query, an empty table of the query's shape)
QUERIES = {
    "by_name": (BY_NAME, "SELECT r_name FROM region WHERE 1 = 0"),
    "columns": (COLUMNS, "SELECT r_regionkey, r_name FROM region WHERE 1 = 0"),
}


def _fresh(spark, table):
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(warehouse, table), ignore_errors=True)


def _render(spark, script):
    """Rows and column names of the last query a dashboard shows."""
    r = query_dashboard(spark, script, dashboard_id="ts")
    q = [q for s in r.sections for q in s.queries][-1]
    return q.rows, [c.name for c in q.columns]


def _task(spark, script):
    r = execute_task(spark, script)
    assert r.success, [q.error for q in r.queries]
    return r.queries


@pytest.fixture(scope="module")
def plain(spark):
    """Rows and column names of each plain query, rendered."""
    return {name: _render(spark, q) for name, (q, _) in QUERIES.items()}


def _temp_view(spark, q, empty, tmp_path):
    rows, _ = _render(
        spark, f"CREATE TEMP VIEW ts_v AS {q}; SELECT count(*) AS n FROM ts_v;"
    )
    return rows[0][0]


def _explain(spark, q, empty, tmp_path):
    rows, cols = _render(spark, f"EXPLAIN {q}")
    assert cols == ["explain_key", "explain_value"]
    assert rows[0][0] == "physical_plan" and "Physical Plan" in rows[0][1]
    return None


def _describe(spark, q, empty, tmp_path):
    rows, _ = _render(spark, f"DESCRIBE {q}")
    return [r[0] for r in rows]


def _summarize(spark, q, empty, tmp_path):
    rows, cols = _render(spark, f"SUMMARIZE {q}")
    count = cols.index("count")
    assert len({r[count] for r in rows}) == 1
    return rows[0][count]


def _set_variable(spark, q, empty, tmp_path):
    rows, _ = _render(
        spark,
        f"SET VARIABLE ts_k = (SELECT count(*) FROM ({q}));"
        "SELECT getvariable('ts_k') AS k;",
    )
    return rows[0][0]


def _copy_to(spark, q, empty, tmp_path):
    path = str(tmp_path / "q.csv")
    (copy,) = _task(spark, f"COPY ({q}) TO '{path}' (HEADER);")
    with open(path) as f:
        assert copy.result_rows == [[len(f.readlines()) - 1]]
    return copy.result_rows[0][0]


def _temp_table(spark, q, empty, tmp_path):
    _, select = _task(
        spark, f"CREATE TEMP TABLE ts_t AS {q}; SELECT count(*) AS n FROM ts_t;"
    )
    return select.result_rows[0][0]


def _ctas(spark, q, empty, tmp_path):
    _fresh(spark, "ts_ctas")
    try:
        (ctas,) = _task(spark, f"CREATE TABLE ts_ctas AS {q};")
        assert ctas.result_rows == []
        return spark.table("ts_ctas").count()
    finally:
        _fresh(spark, "ts_ctas")


def _insert(spark, q, empty, tmp_path):
    _fresh(spark, "ts_ins")
    try:
        _task(spark, f"CREATE TABLE ts_ins AS {empty};")
        _task(spark, f"INSERT INTO ts_ins {q};")
        return spark.table("ts_ins").count()
    finally:
        _fresh(spark, "ts_ins")


def _init_ctas(spark, q, empty, tmp_path):
    _fresh(spark, "ts_init")
    try:
        run_init_sql(spark, f"CREATE TABLE ts_init AS {q};")
        return spark.table("ts_init").count()
    finally:
        _fresh(spark, "ts_init")


# form -> (run, what of the plain query it must reproduce)
FORMS = {
    "dashboard_temp_view": (_temp_view, "count"),
    "dashboard_explain": (_explain, None),
    "dashboard_describe": (_describe, "columns"),
    "dashboard_summarize": (_summarize, "count"),
    "dashboard_set_variable": (_set_variable, "count"),
    "task_copy_to": (_copy_to, "count"),
    "task_temp_table": (_temp_table, "count"),
    "task_ctas": (_ctas, "count"),
    "task_insert": (_insert, "count"),
    "init_ctas": (_init_ctas, "count"),
}


@pytest.mark.parametrize("query", sorted(QUERIES))
@pytest.mark.parametrize("form", sorted(FORMS))
def test_wrapped_query_matches_plain(spark, plain, tmp_path, form, query):
    run, want = FORMS[form]
    q, empty = QUERIES[query]
    got = run(spark, q, empty, tmp_path)
    rows, columns = plain[query]
    expected = {"count": len(rows), "columns": columns, None: None}[want]
    assert got == expected


def test_plain_queries(plain):
    assert len(plain["by_name"][0]) == 10
    assert plain["columns"][1] == ["r_regionkey", "r_name"]


# DuckDB's FROM-first query as the wrapped body: the bare form with a
# clause after the table, and the projected form. Region keys are 0-4.
FROM_FIRST = {
    "bare": ("FROM region WHERE r_regionkey > 1", "SELECT * FROM region WHERE 1 = 0"),
    "projected": (
        "FROM region SELECT r_regionkey, r_name WHERE r_regionkey > 1",
        "SELECT r_regionkey, r_name FROM region WHERE 1 = 0",
    ),
}


@pytest.mark.parametrize("query", sorted(FROM_FIRST))
@pytest.mark.parametrize(
    "form",
    ["dashboard_temp_view", "task_temp_table", "task_ctas", "task_insert", "init_ctas"],
)
def test_from_first_body_is_lowered(spark, tmp_path, form, query):
    run, _ = FORMS[form]
    q, empty = FROM_FIRST[query]
    assert run(spark, q, empty, tmp_path) == 3


def test_from_first_cte_body_renders(spark):
    rows, cols = _render(
        spark,
        "WITH r AS (FROM region WHERE r_regionkey > 1) "
        "SELECT count(*) AS n FROM r;",
    )
    assert cols == ["n"] and rows[0][0] == 3


# ---------------------------------------------------------------------------
# SUMMARIZE and top-level PIVOT export what they render
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "script",
    [
        "SUMMARIZE region;",
        "PIVOT region ON r_name USING count(*);",
        "SELECT 1 AS x; SUMMARIZE SELECT * FROM nation;",
    ],
)
def test_export_equals_rendered_table(spark, script):
    r = query_dashboard(spark, script, dashboard_id="ts")
    index = len([s for s in script.split(";") if s.strip()]) - 1
    query = [q for s in r.sections for q in s.queries][-1]
    assert query.rows
    buf = io.StringIO()
    n = stream_dashboard_export(spark, script, "csv", buf, query_id=index)
    header, *rows = csv.reader(io.StringIO(buf.getvalue()))
    assert n == len(rows) == len(query.rows)
    assert header == [c.name for c in query.columns]
    for got, want in zip(rows, query.rows):
        for text, value in zip(got, want):
            if isinstance(value, float):
                assert float(text) == pytest.approx(value)
            else:
                assert text == format_value(value)


def test_update_backquoted_column_with_comma(spark):
    _fresh(spark, "ts_upd")
    try:
        _task(
            spark,
            "CREATE TABLE ts_upd AS SELECT 0 AS `a,b`, 0 AS c;"
            "UPDATE ts_upd SET `a,b` = 1, c = 2;",
        )
        assert [tuple(r) for r in spark.table("ts_upd").collect()] == [(1, 2)]
    finally:
        _fresh(spark, "ts_upd")
