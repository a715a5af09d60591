"""Dashboard-executor tests — ports of the reference's TestQueryDashboard
table-driven subtests (server/core/get_dashboard_test.go) plus
Spark-specific coverage."""

import pytest

from shaper_spark.engine import DashboardError, query_dashboard


def test_basic_query(spark):
    r = query_dashboard(spark, "SELECT 1 AS val")
    assert len(r.sections) == 1
    s = r.sections[0]
    assert s.type == "content"
    assert len(s.queries) == 1
    q = s.queries[0]
    assert q.render["type"] == "value"
    assert q.columns[0].name == "val"
    assert q.columns[0].type == "number"
    assert q.rows == [[1]]


def test_label_then_value(spark):
    r = query_dashboard(spark, "SELECT 'Revenue'::LABEL; SELECT 42 AS total;")
    q = r.sections[0].queries[0]
    assert q.render["type"] == "value"
    assert q.render["label"] == "Revenue"


def test_section_title(spark):
    r = query_dashboard(
        spark, "SELECT 'My Dash'::SECTION; SELECT 1 AS x;"
    )
    assert r.sections[0].type == "header"
    assert r.sections[0].title == "My Dash"
    assert r.name == "My Dash"
    assert r.sections[1].type == "content"


def test_barchart_stacked(spark):
    r = query_dashboard(
        spark,
        """
        SELECT 'Events per day'::LABEL;
        SELECT date_trunc('day', ts)::XAXIS, event_type::CATEGORY,
               count()::BARCHART_STACKED AS n
        FROM events GROUP BY ALL ORDER BY ALL;
        """,
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "barchartHorizontalStacked"
    assert q.render["label"] == "Events per day"
    tags = [c.tag for c in q.columns]
    assert tags == ["index", "category", "value"]
    assert q.columns[0].type == "date"
    # index values are unix ms
    assert isinstance(q.rows[0][0], int)
    assert r.min_time_value is not None and r.max_time_value is not None
    assert r.min_time_value <= r.max_time_value


def test_linechart_with_bands(spark):
    r = query_dashboard(
        spark,
        """
        SELECT date_trunc('day', ts)::XAXIS,
               avg(value)::LINECHART AS v,
               avg(value) - 1::BAND_LOWER AS lo,
               avg(value) + 1::BAND_UPPER AS hi
        FROM events GROUP BY 1 ORDER BY 1;
        """,
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "linechart"
    assert [c.tag for c in q.columns] == ["index", "value", "band_lower", "band_upper"]


def test_table_fallback(spark):
    r = query_dashboard(spark, "SELECT event_type, value FROM events LIMIT 5")
    q = r.sections[0].queries[0]
    assert q.render["type"] == "table"
    assert len(q.rows) == 5


def test_row_cap(spark):
    r = query_dashboard(spark, "SELECT * FROM events", max_rows=10)
    assert len(r.sections[0].queries[0].rows) == 10


def test_dropdown_sets_variable(spark):
    r = query_dashboard(
        spark,
        """
        SELECT DISTINCT event_type::DROPDOWN AS etype FROM events ORDER BY 1;
        SELECT count(*) AS n FROM events WHERE event_type = getvariable('etype');
        """,
    )
    assert r.sections[0].type == "header"
    content = r.sections[1]
    assert content.queries[0].render["type"] == "value"
    assert content.queries[0].rows[0][0] > 0


def test_dropdown_param_override(spark):
    types = [
        r[0]
        for r in spark.sql("SELECT DISTINCT event_type FROM events ORDER BY 1").collect()
    ]
    chosen = types[-1]
    r = query_dashboard(
        spark,
        """
        SELECT DISTINCT event_type::DROPDOWN AS etype FROM events ORDER BY 1;
        SELECT getvariable('etype') AS chosen;
        """,
        params={"etype": chosen},
    )
    assert r.sections[1].queries[0].rows[0][0] == chosen


def test_set_variable(spark):
    r = query_dashboard(
        spark,
        """
        SET VARIABLE lim = 3;
        SELECT count(*) AS n FROM (SELECT * FROM events LIMIT 3)
        WHERE 3 = getvariable('lim');
        """,
    )
    assert r.sections[0].queries[0].rows[0][0] == 3


def test_unset_variable_reported(spark):
    r = query_dashboard(spark, "SELECT getvariable('nope') AS x")
    assert r.unset_variables == ["nope"]


def test_disallowed_statement(spark):
    with pytest.raises(DashboardError):
        query_dashboard(spark, "DROP TABLE events")


def test_hidden_section(spark):
    r = query_dashboard(
        spark,
        """
        SELECT ''::SECTION WHERE 1 = 0;
        SELECT 1 AS hidden_query;
        SELECT 'Visible'::SECTION;
        SELECT 2 AS visible_query;
        """,
    )
    all_queries = [q for s in r.sections for q in s.queries]
    assert len(all_queries) == 1
    assert all_queries[0].rows == [[2]]


def test_placeholder(spark):
    r = query_dashboard(spark, "SELECT 'coming soon'::PLACEHOLDER")
    assert r.sections[0].queries[0].render["type"] == "placeholder"


def test_compare_value(spark):
    r = query_dashboard(spark, "SELECT 10.5 AS cur, 9.0::COMPARE AS prev")
    q = r.sections[0].queries[0]
    assert q.render["type"] == "value"
    assert q.columns[1].tag == "compare"


def test_gauge(spark):
    r = query_dashboard(
        spark,
        "SELECT 0.75::GAUGE_PERCENT AS pct, [0.0, 0.5, 1.0]::RANGE AS rng",
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "gauge"
    cats = q.render["gaugeCategories"]
    assert [(c["from"], c["to"]) for c in cats] == [(0.0, 0.5), (0.5, 1.0)]


def test_piechart(spark):
    r = query_dashboard(
        spark,
        """
        SELECT event_type::PIECHART_CATEGORY, count()::PIECHART AS n
        FROM events GROUP BY 1;
        """,
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "piechart"
    assert q.columns[0].tag == "category"
    assert q.columns[1].tag == "value"


def test_boxplot(spark):
    r = query_dashboard(
        spark,
        """
        SELECT event_type::XAXIS, BOXPLOT(value) AS bp
        FROM events GROUP BY event_type;
        """,
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "boxplot"
    row0 = q.rows[0]
    bp = row0[1]
    assert set(bp) == {"max", "min", "outliers", "q1", "q2", "q3"}
    assert bp["min"] <= bp["q1"] <= bp["q2"] <= bp["q3"] <= bp["max"]


def test_marklines(spark):
    r = query_dashboard(
        spark,
        """
        SELECT 'target'::LABEL, 50.0::YLINE;
        SELECT date_trunc('day', ts)::XAXIS, avg(value)::LINECHART AS v
        FROM events GROUP BY 1 ORDER BY 1;
        """,
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "linechart"
    marks = q.render["markLines"]
    assert marks == [{"value": 50.0, "isYaxis": True, "label": "target"}]


def test_reload(spark):
    r = query_dashboard(spark, "SELECT INTERVAL 1 HOUR AS r"
                                "; SELECT 1 AS x;")
    # no RELOAD tag → just a table/value; now with the tag:
    r = query_dashboard(spark, "SELECT (INTERVAL 1 HOUR)::RELOAD; SELECT 1 AS x;")
    assert r.reload_at > 0


def test_download_button(spark):
    r = query_dashboard(
        spark,
        """
        SELECT 'report'::DOWNLOAD_CSV;
        SELECT * FROM events;
        """,
        dashboard_id="dash1",
    )
    secs = [q for s in r.sections for q in s.queries]
    assert len(secs) == 1  # the query after the download marker is skipped
    q = secs[0]
    assert q.render["type"] == "button"
    assert q.rows[0][0].startswith("api/dashboards/dash1/download/report.csv")


def test_temp_view_side_effect(spark):
    r = query_dashboard(
        spark,
        """
        CREATE OR REPLACE TEMP VIEW my_tmp AS SELECT 99 AS v;
        SELECT v FROM my_tmp;
        """,
    )
    assert r.sections[0].queries[0].rows == [[99]]


def test_macro(spark):
    r = query_dashboard(
        spark,
        """
        CREATE TEMP MACRO double_it(x) AS x * 2;
        SELECT double_it(21) AS v;
        """,
    )
    assert r.sections[0].queries[0].rows == [[42]]


def test_summarize(spark):
    r = query_dashboard(spark, "SUMMARIZE events")
    q = r.sections[0].queries[0]
    assert q.render["type"] == "table"
    names = [c.name for c in q.columns]
    assert names[:4] == ["column_name", "column_type", "min", "max"]
    assert len(q.rows) == 6  # one per events column


def test_from_first(spark):
    r = query_dashboard(spark, "FROM events LIMIT 3")
    assert len(r.sections[0].queries[0].rows) == 3


def test_json_object_sniff(spark):
    r = query_dashboard(spark, "SELECT props FROM events LIMIT 3")
    q = r.sections[0].queries[0]
    assert q.columns[0].type == "object"
    assert isinstance(q.rows[0][0], dict)


def test_interval_duration_ms(spark):
    r = query_dashboard(spark, "SELECT INTERVAL 90 MINUTE AS dur")
    q = r.sections[0].queries[0]
    assert q.columns[0].type == "duration"
    assert q.rows[0][0] == 90 * 60 * 1000


# --- ports of remaining reference subtests (get_dashboard_test.go) -------


def test_scatterplot_tags(spark):
    # get_dashboard_test.go:131-154
    r = query_dashboard(
        spark,
        """
        SELECT
            '2026-01-01'::TIMESTAMP::XAXIS AS ts,
            10.0::SCATTERPLOT AS val,
            'my-category'::SCATTERPLOT_CATEGORY AS cat,
            '#ff0000'::SCATTERPLOT_COLOR AS col
        """,
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "scatterplot"
    assert [c.tag for c in q.columns] == ["index", "value", "category", "color"]


def test_query_with_jwt_variables(spark):
    # get_dashboard_test.go:156-164
    r = query_dashboard(
        spark,
        "SELECT getvariable('myvar') AS val",
        variables={"myvar": "hello"},
    )
    assert r.sections[0].queries[0].rows == [["hello"]]


def test_protected_variable_not_overridable(spark):
    # get_dashboard_test.go:166-190: a query param must NOT overwrite a
    # JWT-protected variable.
    r = query_dashboard(
        spark,
        """
        SELECT 'secure_val'::DROPDOWN AS myvar, 'Secure'::LABEL AS label
        UNION ALL SELECT 'malicious_val', 'Malicious';
        SELECT getvariable('myvar') AS val;
        """,
        params={"myvar": "malicious_val"},
        variables={"myvar": "secure_val"},
    )
    assert r.sections[-1].queries[0].rows == [["secure_val"]]


def test_normal_param_override_works(spark):
    # get_dashboard_test.go:192-212
    r = query_dashboard(
        spark,
        """
        SELECT 'val1'::DROPDOWN AS myvar, 'Val 1'::LABEL AS label
        UNION ALL SELECT 'val2', 'Val 2';
        SELECT getvariable('myvar') AS val;
        """,
        params={"myvar": "val2"},
    )
    assert r.sections[-1].queries[0].rows == [["val2"]]


def test_unset_variables_detected_in_order(spark):
    # get_dashboard_test.go:214-228
    r = query_dashboard(
        spark,
        """
        SELECT getvariable('already_set') AS v1, getvariable('missing_var1') AS v2;
        SET VARIABLE local_var = 'foo';
        SELECT getvariable('local_var') AS v3, getvariable('missing_var2') AS v4;
        """,
        variables={"already_set": "hello"},
    )
    assert r.unset_variables == ["missing_var1", "missing_var2"]


def test_timestamptz_in_custom_types(spark):
    # get_dashboard_test.go:230-320 (full case: XLINE+linechart,
    # YLINE+barchartVertical, standalone TIMESTAMPTZ, DATEPICKER, RELOAD)
    r = query_dashboard(
        spark,
        """
        SELECT '2026-08-04 10:00:00+00'::TIMESTAMPTZ::XLINE;
        SELECT
            '2026-08-04 12:00:00+00'::TIMESTAMPTZ::XAXIS AS ts_xaxis,
            10.0::LINECHART AS val;
        SELECT '2026-08-04 10:00:00+00'::TIMESTAMPTZ::YLINE;
        SELECT
            5.0::BARCHART AS bval,
            '2026-08-04 12:00:00+00'::TIMESTAMPTZ::YAXIS AS ts_yaxis;
        SELECT '2026-08-04 12:00:00+00'::TIMESTAMPTZ AS standalone_tz;
        SELECT '2026-08-04 12:00:00+00'::TIMESTAMPTZ::DATEPICKER AS dp;
        SELECT '2026-08-04 12:00:00+00'::TIMESTAMPTZ::RELOAD;
        """,
    )
    q1 = r.sections[0].queries[0]
    assert q1.render["type"] == "linechart"
    assert q1.columns[0].type == "timestamp"
    marks = q1.render.get("markLines", [])
    assert len(marks) == 1
    assert marks[0].get("isYaxis") in (False, None)
    # XLINE value serialized as unix ms (2026-08-04 10:00:00 UTC)
    assert marks[0]["value"] == 1785837600000

    q2 = r.sections[0].queries[1]
    assert q2.render["type"] == "barchartVertical"
    assert q2.columns[1].type == "timestamp"
    marks2 = q2.render.get("markLines", [])
    assert len(marks2) == 1 and marks2[0].get("isYaxis") is True

    q3 = r.sections[0].queries[2]
    assert q3.columns[0].type == "timestamp"

    header_queries = [
        q
        for s in r.sections
        for q in s.queries
        if q.render["type"] == "datepicker"
    ]
    assert len(header_queries) == 1

    # RELOAD: 2026-08-04 12:00:00 UTC = 1785844800000 ms
    assert r.reload_at == 1785844800000


def test_dropdown_multi_defaults_all(spark):
    # collectVars dropdownMulti semantics (get_dashboard.go:1596-1677):
    # default = all options when no param given.
    r = query_dashboard(
        spark,
        """
        SELECT x::DROPDOWN_MULTI AS picks FROM (VALUES ('a'), ('b'), ('c')) t(x) ORDER BY 1;
        SELECT array_join(array_sort(getvariable('picks')), ',') AS joined;
        """,
    )
    assert r.sections[-1].queries[0].rows == [["a,b,c"]]


def test_dropdown_multi_filters_invalid(spark):
    r = query_dashboard(
        spark,
        """
        SELECT x::DROPDOWN_MULTI AS picks FROM (VALUES ('a'), ('b'), ('c')) t(x) ORDER BY 1;
        SELECT array_join(array_sort(getvariable('picks')), ',') AS joined;
        """,
        params={"picks": ["b", "zzz"]},
    )
    assert r.sections[-1].queries[0].rows == [["b"]]


def test_datepicker_default_from_row(spark):
    # datepicker defaults come from the widget's own first row
    # (get_dashboard.go:1679-1791)
    r = query_dashboard(
        spark,
        """
        SELECT DATE '2024-03-01'::DATEPICKER_FROM AS f, DATE '2024-03-31'::DATEPICKER_TO AS t;
        SELECT CAST(getvariable('f') AS STRING) AS f2, CAST(getvariable('t') AS STRING) AS t2;
        """,
    )
    rows = r.sections[-1].queries[0].rows
    assert rows[0][0].startswith("2024-03-01")
    # 'to' gets end-of-day added (get_dashboard.go:1758-1762)
    assert rows[0][1].startswith("2024-03-31 23:59:59")


def test_trend_column_in_table(spark):
    r = query_dashboard(
        spark,
        "SELECT 'a' AS name, 5.0::TREND AS trend, 1 AS v "
        "UNION ALL SELECT 'b', -2.0, 2 ORDER BY name",
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "table"
    assert q.columns[1].tag == "trend"


def test_text_size_value(spark):
    r = query_dashboard(spark, "SELECT 'Big Number'::TEXT_LARGE AS v")
    q = r.sections[0].queries[0]
    assert q.render["type"] in ("value", "valueLarge", "text")


def test_duck_pivot_sugar(spark):
    # DuckDB simplified PIVOT (sql_validation.go:53): values discovered
    # from data, executed as groupBy().pivot()
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pivot_src AS "
        "SELECT * FROM VALUES ('a','x',1.0),('a','y',2.0),('b','x',3.0) v(g, c, n)"
    )
    r = query_dashboard(spark, "PIVOT pivot_src ON c USING sum(n) GROUP BY g ORDER BY g")
    q = r.sections[0].queries[0]
    assert [c.name for c in q.columns] == ["g", "x", "y"]
    assert q.rows == [["a", 1.0, 2.0], ["b", 3.0, None]]


def test_duck_pivot_sugar_default_count(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pivot_src2 AS "
        "SELECT * FROM VALUES ('a','x'),('a','x'),('b','y') v(g, c)"
    )
    r = query_dashboard(spark, "PIVOT pivot_src2 ON c ORDER BY g")
    q = r.sections[0].queries[0]
    assert q.rows == [["a", 2, 0], ["b", 0, 1]]


def test_temp_views_cleaned_up_after_render(spark):
    # Dashboards get per-render isolation on the shared session: temp
    # views created by side effects are dropped afterwards (the
    # reference isolates via per-request DuckDB, app.go:238-334)
    query_dashboard(
        spark,
        """
        CREATE TEMP TABLE leak_check AS SELECT 1 AS v;
        SELECT v FROM leak_check;
        """,
    )
    assert not spark.catalog.tableExists("leak_check")


def test_temp_view_cleanup_on_error(spark):
    with pytest.raises(Exception):
        query_dashboard(
            spark,
            """
            CREATE OR REPLACE TEMPORARY VIEW leak_err AS SELECT 1 AS v;
            SELECT * FROM table_that_does_not_exist_xyz;
            """,
        )
    assert not spark.catalog.tableExists("leak_err")


def test_hint_column_on_dropdown_multi(spark):
    # HINT is wired to DROPDOWN_MULTI only — matching the reference
    # cascade exactly (get_dashboard.go:1048-1063; plain DROPDOWN takes
    # LABEL but not HINT)
    r = query_dashboard(
        spark,
        "SELECT x::DROPDOWN_MULTI AS opt, h::HINT AS hint "
        "FROM (VALUES ('a', 'first option'), ('b', 'second')) t(x, h) ORDER BY 1;",
    )
    q = r.sections[0].queries[0]
    assert q.render["type"] == "dropdownMulti"
    assert [c.tag for c in q.columns] == ["value", "hint"]


def test_pivot_inside_cte_and_derived_table(spark):
    # batch-6: "(PIVOT …)" as a CTE body / derived table materializes
    # through a temp view (DuckDB macro-expands the same sugar)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pivot_src3 AS "
        "SELECT * FROM VALUES ('a','x',1.0),('b','y',2.0) v(g, c, n)"
    )
    r = query_dashboard(
        spark,
        "WITH p AS (PIVOT pivot_src3 ON c USING sum(n) GROUP BY g) "
        "SELECT g FROM p ORDER BY g",
    )
    assert r.sections[0].queries[0].rows == [["a"], ["b"]]
    r = query_dashboard(
        spark,
        "SELECT count(*) AS n FROM "
        "(PIVOT pivot_src3 ON c USING sum(n) GROUP BY g) t",
    )
    assert r.sections[0].queries[0].rows == [[2]]


def test_pivot_multiple_using_aliases(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pivot_src4 AS "
        "SELECT * FROM VALUES ('a','x',1.0),('a','x',3.0) v(g, c, n)"
    )
    r = query_dashboard(
        spark,
        "PIVOT pivot_src4 ON c USING count(*) AS cnt, sum(n) AS s "
        "GROUP BY g ORDER BY g",
    )
    q = r.sections[0].queries[0]
    assert [c.name for c in q.columns] == ["g", "x_cnt", "x_s"]
    assert q.rows == [["a", 2, 4.0]]


def test_union_by_name(spark):
    r = query_dashboard(
        spark,
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME "
        "SELECT 20 AS b, 10 AS a ORDER BY a",
    )
    assert r.sections[0].queries[0].rows == [[1, 2], [10, 20]]
    # missing column fills with NULL; plain UNION BY NAME dedups
    r = query_dashboard(
        spark,
        "SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS b "
        "ORDER BY a NULLS FIRST",
    )
    assert r.sections[0].queries[0].rows == [[None, 2], [1, None]]


@pytest.mark.parametrize("tail", ["", " ORDER BY a"])
def test_union_by_name_last_side_name_ending_in_limit(spark, tail):
    """A name that ends in a tail keyword (``nolimit``) is not the
    union's LIMIT: the last side stays whole, as DuckDB reads it."""
    import duckdb

    sql = (
        "SELECT 1 AS a, 'x' AS b UNION ALL BY NAME "
        "SELECT nolimit AS a FROM (SELECT 2 AS nolimit)" + tail
    )
    r = query_dashboard(spark, sql)
    want = [list(row) for row in duckdb.sql(sql).fetchall()]
    assert sorted(r.sections[0].queries[0].rows, key=str) == sorted(want, key=str)


def test_union_by_name_under_with_prefix(spark):
    """r13 (closes the r12 loud-unsupported): the CTE list replicates
    into each BY NAME side so the sides analyze standalone."""
    r = query_dashboard(
        spark,
        "WITH c AS (SELECT 1 AS a, 2 AS b) "
        "SELECT a, b FROM c UNION ALL BY NAME "
        "SELECT b, a FROM c ORDER BY a",
    )
    assert r.sections[0].queries[0].rows == [[1, 2], [1, 2]]
    r2 = query_dashboard(
        spark,
        "WITH c AS (SELECT 1 AS a, 2 AS b), d AS (SELECT 3 AS a) "
        "SELECT a, b FROM c UNION BY NAME SELECT a FROM d "
        "ORDER BY a",
    )
    assert r2.sections[0].queries[0].rows == [[1, 2], [3, None]]


def test_union_by_name_nested_in_derived_table(spark):
    """r13 statement-composition fuzz find: BY NAME expands at every
    nesting depth (derived tables, chained set ops)."""
    r = query_dashboard(
        spark,
        "SELECT * FROM ((SELECT 1 AS a, 2 AS b) UNION ALL BY NAME "
        "(SELECT 20 AS b, 10 AS a)) ORDER BY a",
    )
    assert r.sections[0].queries[0].rows == [[1, 2], [10, 20]]


def test_columns_macro_regex_and_star(spark):
    # batch-6 / r9 verdict task #7: COLUMNS('re') and COLUMNS(*)
    # expand schema-resolved against the catalog (filefuncs temp views
    # included); a directly wrapping call distributes elementwise
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW colsrc AS "
        "SELECT * FROM VALUES (1, 2.0, 'x'), (3, 4.0, 'y') v(ak, bn, cs)"
    )
    r = query_dashboard(
        spark, "SELECT COLUMNS('^[ab]') FROM colsrc ORDER BY ak"
    )
    q = r.sections[0].queries[0]
    assert [c.name for c in q.columns] == ["ak", "bn"]
    assert q.rows == [[1, 2.0], [3, 4.0]]
    r = query_dashboard(spark, "SELECT min(COLUMNS(*)) FROM colsrc")
    q = r.sections[0].queries[0]
    assert [c.name for c in q.columns] == ["min(ak)", "min(bn)", "min(cs)"]
    assert q.rows == [[1, 2.0, "x"]]


def test_columns_macro_no_match_and_no_from_error(spark):
    import pytest as _pytest

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW colsrc2 AS SELECT 1 AS a"
    )
    with _pytest.raises(Exception, match="matched no columns"):
        query_dashboard(spark, "SELECT COLUMNS('zzz') FROM colsrc2")
    with _pytest.raises(Exception, match="FROM relation"):
        query_dashboard(spark, "SELECT COLUMNS('a')")


def test_unsupported_duckisms_named_errors(spark):
    import pytest as _pytest

    # EXCLUDE NO OTHERS is the SQL default: dropped, query runs
    r = query_dashboard(
        spark,
        "SELECT sum(a) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND "
        "CURRENT ROW EXCLUDE NO OTHERS) AS s FROM "
        "(SELECT 1 AS a UNION ALL SELECT 2) t ORDER BY s",
    )
    assert r.sections[0].queries[0].rows == [[1], [3]]
    # EXCLUDE CURRENT ROW is SUPPORTED as of r13 (sum/count/avg/min/
    # max via _rewrite_window_exclude); the residual combos still
    # raise the named error through the rewriter
    r_ex = query_dashboard(
        spark,
        "SELECT sum(a) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING "
        "AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM "
        "(SELECT 1 AS a UNION ALL SELECT 2) t ORDER BY s",
    )
    assert r_ex.sections[0].queries[0].rows == [[1], [2]]
    with _pytest.raises(Exception, match="EXCLUDE GROUP"):
        query_dashboard(
            spark,
            "SELECT sum(a) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE GROUP) FROM "
            "(SELECT 1 AS a) t",
        )
    # POSITIONAL JOIN is implemented r12 (zipWithIndex full-outer)
    r2 = query_dashboard(
        spark,
        "SELECT * FROM (SELECT 1 AS a) x POSITIONAL JOIN "
        "(SELECT 2 AS b) y",
        dashboard_id="pj0",
    )
    assert r2.sections[0].queries[0].rows == [[1, 2]]


def test_star_replace_keeps_column_position(spark):
    # r10: with a resolvable single-relation FROM, * REPLACE expands
    # to the full ordered list with the replacement IN PLACE (DuckDB
    # order); the EXCEPT fallback (joins/subqueries) still moves it
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sr_src AS "
        "SELECT * FROM VALUES (1, 'x', 2.0) v(a, b, c)"
    )
    r = query_dashboard(
        spark, "SELECT * REPLACE (b || '!' AS b) FROM sr_src"
    )
    q = r.sections[0].queries[0]
    assert [col.name for col in q.columns] == ["a", "b", "c"]
    assert q.rows == [[1, "x!", 2.0]]


def test_recursive_unnest_forms(spark):
    """r11: unnest(recursive := true) — schema-resolved expansion
    (lists flatten fully, structs expand to leaf-named columns);
    differential-pinned against DuckDB 1.0 (7-case probe)."""
    from shaper_spark.engine import query_dashboard

    def run(stmt):
        q = query_dashboard(spark, stmt + ";", dashboard_id="ru").to_dict()[
            "sections"
        ][0]["queries"][0]
        return [c["name"] for c in q["columns"]], [
            tuple(r) for r in q["rows"]
        ]

    cols, rows = run("SELECT unnest([[1,2],[3]], recursive := true) AS u")
    assert cols == ["u"] and rows == [(1,), (2,), (3,)]
    cols, rows = run(
        "SELECT unnest({'a':1,'b':{'c':2}}, recursive := true)"
    )
    assert cols == ["a", "c"] and rows == [(1, 2)]
    cols, rows = run(
        "SELECT unnest([{'x':1,'n':{'m':5}}], recursive := true)"
    )
    assert cols == ["x", "m"] and rows == [(1, 5)]
    cols, rows = run(
        "SELECT unnest([[{'x':1}],[{'x':2}]], recursive := true)"
    )
    assert cols == ["x"] and rows == [(1,), (2,)]
    # struct leaves that are lists stay lists (DuckDB parity)
    cols, rows = run("SELECT unnest({'a':[1,2],'b':9}, recursive := true)")
    assert cols == ["a", "b"] and rows == [([1, 2], 9)]
    # recursive := false degrades to the plain form
    cols, rows = run("SELECT unnest([1,2], recursive := false) AS q")
    assert cols == ["q"] and rows == [(1,), (2,)]


def test_recursive_unnest_named_errors(spark):
    import pytest as _pytest

    from shaper_spark.engine import query_dashboard

    with _pytest.raises(Exception, match="max_depth"):
        query_dashboard(
            spark,
            "SELECT unnest([[1]], recursive := true, max_depth := 2);",
            dashboard_id="ru",
        )


class TestTableMacros:
    """CREATE [TEMP] MACRO … AS TABLE (batch-26): the stripped body
    inlines as a derived table at FROM-position call sites; TEMP is
    optional outside dashboards (the gate still requires it there)."""

    def test_table_macro_from_position(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(spark, """
CREATE TEMP MACRO rng(n) AS TABLE SELECT unnest(range(1, n + 1)) AS x;
SELECT sum(x) AS s FROM rng(4);
""", dashboard_id="tmacro1")
        rows = r.sections[-1].queries[-1].rows
        assert rows == [[10]]

    def test_table_macro_with_default(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(spark, """
CREATE TEMP MACRO firstn(n := 2) AS TABLE
  SELECT unnest(range(n)) AS i;
SELECT count(*) AS c FROM firstn();
SELECT count(*) AS c2 FROM firstn(n := 5);
""", dashboard_id="tmacro2")
        qs = [q for s in r.sections for q in s.queries]
        assert qs[0].rows == [[2]] and qs[1].rows == [[5]]

    def test_non_temp_macro_parses(self):
        from shaper_spark.engine import _parse_macro

        m = _parse_macro("CREATE MACRO sm(a, b) AS a + b")
        assert m is not None and m.params == ["a", "b"]
        t = _parse_macro(
            "CREATE OR REPLACE MACRO tm(n) AS TABLE SELECT n AS v"
        )
        assert t is not None and t.body == "SELECT n AS v"


class TestIntrospectionShapes:
    """DuckDB-shaped DESCRIBE and SHOW TABLES output (r11): pasted
    dashboards key on DuckDB's column names and type spellings."""

    def test_describe_select_duck_shape(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(
            spark, "DESCRIBE SELECT r_regionkey, r_name FROM region;",
            dashboard_id="ishape1",
        )
        q = r.sections[0].queries[0]
        assert [c.name for c in q.columns] == [
            "column_name", "column_type", "null", "key", "default",
            "extra",
        ]
        assert q.rows[0][:3] == ["r_regionkey", "INTEGER", "YES"]
        assert q.rows[1][1] == "VARCHAR"

    def test_describe_table_form(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(
            spark, "DESC region;", dashboard_id="ishape2"
        )
        assert r.sections[0].queries[0].rows[0][0] == "r_regionkey"

    def test_show_tables_single_name_column(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(
            spark, "SHOW TABLES;", dashboard_id="ishape3"
        )
        q = r.sections[0].queries[0]
        assert [c.name for c in q.columns] == ["name"]
        names = [row[0] for row in q.rows]
        assert "region" in names and names == sorted(names)

    def test_explain_duck_shape(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(
            spark, "EXPLAIN SELECT count(*) FROM region;",
            dashboard_id="ishape4",
        )
        q = r.sections[0].queries[0]
        assert [c.name for c in q.columns] == [
            "explain_key", "explain_value",
        ]
        assert q.rows[0][0] == "physical_plan"
        assert "Physical Plan" in q.rows[0][1]

    def test_explain_analyze_no_driver_collect(self, spark, monkeypatch):
        # r11 verdict: ANALYZE used to collect() the full result to the
        # driver — the classic unbounded driver sink, reachable from
        # any dashboard.  It must execute via the executor-side noop
        # sink; a collect()/toLocalIterator on the inner frame is a
        # regression.
        from pyspark.sql import DataFrame

        from shaper_spark.engine import query_dashboard

        def _boom(self, *a, **k):  # pragma: no cover - trip wire
            raise AssertionError("EXPLAIN ANALYZE collected driver-side")

        monkeypatch.setattr(DataFrame, "collect", _boom)
        monkeypatch.setattr(DataFrame, "toLocalIterator", _boom)
        try:
            r = query_dashboard(
                spark, "EXPLAIN ANALYZE SELECT l_orderkey, l_quantity FROM lineitem;",
                dashboard_id="ishape5",
            )
        finally:
            monkeypatch.undo()
        q = r.sections[0].queries[0]
        assert [c.name for c in q.columns] == [
            "explain_key", "explain_value",
        ]
        assert q.rows[0][0] == "analyzed_plan"


def test_positional_join_shapes(spark):
    """r12: DuckDB POSITIONAL JOIN — pair by row position, NULL-pad
    the shorter side (verified against DuckDB 1.0 live)."""
    r = query_dashboard(
        spark,
        "SELECT * FROM (VALUES (1),(2),(3)) a(x) "
        "POSITIONAL JOIN (VALUES ('a')) b(y);",
        dashboard_id="pj1",
    )
    assert r.sections[0].queries[0].rows == [
        [1, "a"], [2, None], [3, None],
    ]
    # chained
    r2 = query_dashboard(
        spark,
        "SELECT * FROM (VALUES (1),(2)) a(x) "
        "POSITIONAL JOIN (VALUES (10),(20)) b(y) "
        "POSITIONAL JOIN (VALUES ('u'),('v')) c(z);",
        dashboard_id="pj2",
    )
    assert r2.sections[0].queries[0].rows == [[1, 10, "u"], [2, 20, "v"]]
    # table operands + WHERE
    r3 = query_dashboard(
        spark,
        "SELECT r_regionkey, n_nationkey FROM region "
        "POSITIONAL JOIN nation WHERE n_nationkey < 3;",
        dashboard_id="pj3",
    )
    assert len(r3.sections[0].queries[0].rows) == 3


def test_positional_join_views_do_not_leak_per_render(spark):
    """r12 ADVICE: re-rendering the same POSITIONAL JOIN must reuse
    ONE content-hashed temp view, not leak a numbered view per
    render."""
    q = (
        "SELECT * FROM (VALUES (1),(2)) a(x) "
        "POSITIONAL JOIN (VALUES (7),(8)) b(y);"
    )

    def posjoin_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("__posjoin_")
        }

    query_dashboard(spark, q, dashboard_id="pjleak")
    first = posjoin_views()
    for _ in range(3):
        query_dashboard(spark, q, dashboard_id="pjleak")
    assert posjoin_views() == first
    # and the view still serves fresh, correct rows
    r = query_dashboard(spark, q, dashboard_id="pjleak")
    assert r.sections[0].queries[0].rows == [[1, 7], [2, 8]]
