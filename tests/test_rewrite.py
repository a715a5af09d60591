import os
import sys

import pytest

from shaper_spark.rewrite import (
    find_variable_refs,
    rewrite_statement,
    substitute_variables,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.dialect_fuzz import REWRITTEN_CONSTRUCTS  # noqa: E402


def test_coloncolon_tag_extraction():
    r = rewrite_statement("SELECT 'Sales'::LABEL")
    assert r.sql == "SELECT 'Sales'"
    assert r.column_tags == {0: "LABEL"}


def test_multi_column_tags():
    r = rewrite_statement(
        "SELECT date_trunc('week', ts)::XAXIS, category::CATEGORY, "
        "count()::BARCHART_STACKED FROM events GROUP BY ALL ORDER BY ALL"
    )
    assert r.column_tags == {0: "XAXIS", 1: "CATEGORY", 2: "BARCHART_STACKED"}
    assert "count(*)" in r.sql
    assert "::" not in r.sql


def test_cast_syntax():
    r = rewrite_statement("SELECT CAST(x AS XAXIS), CAST(y AS DOUBLE) FROM t")
    assert r.column_tags == {0: "XAXIS"}
    assert "CAST(y AS DOUBLE)" in r.sql
    assert r.sql.startswith("SELECT (x)")


def test_non_custom_cast_untouched():
    # plain SQL casts keep no tags; DuckDB-only type names map to
    # Spark's (integer targets gain the batch-22 rounding step)
    r = rewrite_statement("SELECT x::INT, y::VARCHAR FROM t")
    assert r.sql == (
        "SELECT CAST(CAST((x) AS DECIMAL(38,0)) AS INT), "
        "y::STRING FROM t"
    )
    assert r.column_tags == {}


def test_duckdb_type_renames():
    r = rewrite_statement("SELECT a::TIMESTAMPTZ, CAST(b AS HUGEINT) FROM t")
    assert r.sql == "SELECT a::TIMESTAMP, CAST(b AS DECIMAL(38,0)) FROM t"


def test_alias_named_like_type_untouched():
    sql = "SELECT x AS text, y AS time FROM t"
    assert rewrite_statement(sql).sql == sql


def test_array_type_suffix():
    r = rewrite_statement("SELECT ['a','b']::VARCHAR[] AS arr")
    assert r.sql == "SELECT array('a','b')::ARRAY<STRING> AS arr"


def test_cast_inside_string_untouched():
    r = rewrite_statement("SELECT 'x::LABEL'")
    assert r.sql == "SELECT 'x::LABEL'"
    assert r.column_tags == {}


def test_from_first():
    r = rewrite_statement("FROM lineitem")
    assert r.sql == "SELECT * FROM lineitem"


def test_from_first_with_projection():
    r = rewrite_statement("FROM lineitem SELECT l_orderkey WHERE l_orderkey > 3 ORDER BY 1")
    assert (
        r.sql
        == "SELECT l_orderkey FROM lineitem WHERE l_orderkey > 3 ORDER BY 1 NULLS LAST"
    )


def test_from_first_projection_with_aggregate():
    r = rewrite_statement("FROM t SELECT s, count() AS n GROUP BY s")
    assert r.sql == "SELECT s, count(*) AS n FROM t GROUP BY s"


def test_from_first_subquery_select_not_split():
    # SELECT inside parens is not the top-level projection
    r = rewrite_statement("FROM (SELECT 1 AS x) sub")
    assert r.sql == "SELECT * FROM (SELECT 1 AS x) sub"


@pytest.mark.parametrize(
    "sql,want",
    [
        (
            "WITH r AS (FROM region WHERE r_regionkey > 1) "
            "SELECT count(*) AS n FROM r",
            "WITH r AS (SELECT * FROM region WHERE r_regionkey > 1) "
            "SELECT count(*) AS n FROM r",
        ),
        (
            "SELECT count(*) FROM (FROM region WHERE r_regionkey > 1)",
            "SELECT count(*) FROM (SELECT * FROM region WHERE r_regionkey > 1)",
        ),
        (
            "SELECT * FROM t WHERE a IN ( FROM u SELECT b WHERE EXISTS (FROM v) )",
            "SELECT * FROM t WHERE a IN "
            "(SELECT b FROM u WHERE EXISTS (SELECT * FROM v))",
        ),
        # a call's parenthesis is not a query body
        ("SELECT trim(FROM x) FROM t", "SELECT trim(FROM x) FROM t"),
    ],
)
def test_from_first_query_bodies(sql, want):
    assert rewrite_statement(sql).sql == want


def test_fetch_rewrite():
    r = rewrite_statement("SELECT * FROM t ORDER BY 1 FETCH FIRST 5 ROWS ONLY")
    assert "LIMIT 5" in r.sql


def test_tag_with_alias():
    r = rewrite_statement("SELECT sum(v)::LINECHART AS total FROM t")
    assert r.column_tags == {0: "LINECHART"}
    assert "sum(v) AS total" in r.sql


def test_complex_operand():
    r = rewrite_statement("SELECT (a + b)::BARCHART, f(x, y)::XAXIS FROM t")
    assert r.column_tags == {0: "BARCHART", 1: "XAXIS"}
    assert r.sql == "SELECT (a + b), f(x, y) FROM t"


def test_quantile_rename():
    r = rewrite_statement("SELECT quantile_cont(x, 0.5) FROM t")
    assert "percentile(x, 0.5)" in r.sql


def test_variables():
    sql = "SELECT * FROM t WHERE c = getvariable('cat') AND d IN getvariable('ds')"
    assert find_variable_refs(sql) == ["cat", "ds"]
    out = substitute_variables(sql, {"cat": "a'b"}, {"ds": ["x", "y"]})
    assert "'a''b'" in out
    assert "array('x', 'y')" in out
    out2 = substitute_variables(sql, {}, {})
    assert "NULL" in out2


def test_boxplot_expansion():
    r = rewrite_statement("SELECT g, BOXPLOT(v) FROM t GROUP BY g")
    assert "named_struct" in r.sql
    assert "percentile(v, 0.25D)" in r.sql
    assert "BOXPLOT" not in r.sql


def test_boxplot_with_info():
    r = rewrite_statement(
        "SELECT BOXPLOT(v, outlier_info := map('id', cast(i as varchar))) FROM t"
    )
    assert "named_struct('value'" in r.sql or "'info'" in r.sql


def test_with_statement_tags():
    r = rewrite_statement(
        "WITH x AS (SELECT a, b FROM t) SELECT a::XAXIS, sum(b)::LINECHART FROM x GROUP BY 1"
    )
    assert r.column_tags == {0: "XAXIS", 1: "LINECHART"}


class TestQualifyRewrite:
    """QUALIFY (DuckDB window-filter sugar) → subquery rewrite."""

    def test_inline_window_predicate(self, spark):
        from shaper_spark.rewrite import rewrite_statement

        sql = rewrite_statement(
            "SELECT n_regionkey, n_name FROM nation "
            "QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) <= 2 "
            "ORDER BY n_regionkey, n_name"
        ).sql
        assert "__qualify__" in sql
        df = spark.sql(sql)
        assert df.columns == ["n_regionkey", "n_name"]
        assert df.count() == 10  # 2 per region x 5 regions

    def test_alias_predicate(self, spark):
        from shaper_spark.rewrite import rewrite_statement

        sql = rewrite_statement(
            "SELECT n_regionkey, row_number() OVER (ORDER BY n_name) AS rn "
            "FROM nation QUALIFY rn <= 3"
        ).sql
        assert spark.sql(sql).count() == 3

    def test_no_qualify_untouched(self):
        from shaper_spark.rewrite import rewrite_statement

        sql = "SELECT 'QUALIFY' AS word"
        assert rewrite_statement(sql).sql == sql


class TestFunctionRenames:
    """DuckDB → Spark function mapping (dialect surface)."""

    @pytest.mark.parametrize(
        "duck,spark_sql",
        [
            ("SELECT strftime(ts, '%Y-%m-%d %H:%M') FROM t",
             "SELECT date_format(ts, 'yyyy-MM-dd HH:mm') FROM t"),
            ("SELECT regexp_replace(x, '[0-9]', '', 'g') FROM t",
             "SELECT regexp_replace(x, '[0-9]', '') FROM t"),
            ("SELECT today() AS d", "SELECT current_date() AS d"),
            (
                "SELECT arg_max(x, y) FROM t",
                # NULL-arg skip (r11): DuckDB's arg_max ignores rows
                # whose arg is NULL
                "SELECT max_by(x, CASE WHEN (x) IS NOT NULL THEN y END) FROM t",
            ),
                        ("SELECT unnest([1,2]) AS v", "SELECT explode(array(1,2)) AS v"),
            ("SELECT array_to_string(l, ',') FROM t",
             "SELECT array_join(l, ',') FROM t"),
            ("SELECT epoch(ts) FROM t",
             "SELECT (unix_micros(CAST((ts) AS TIMESTAMP)) / 1000000.0D)"
             " FROM t"),  # fractional seconds kept (r12)
            ("SELECT string_agg(x, ', ') FROM t", "SELECT listagg(x, ', ') FROM t"),
            # try_ variant: DuckDB yields NULL out of bounds (batch-22)
            ("SELECT list_extract(l, 1) FROM t", "SELECT try_element_at(l, 1) FROM t"),
        ],
    )
    def test_renames(self, duck, spark_sql):
        assert rewrite_statement(duck).sql == spark_sql

    def test_length_not_renamed_from_len_prefix(self):
        sql = "SELECT length(x) FROM t"
        assert rewrite_statement(sql).sql == sql

    def test_strftime_in_string_untouched(self):
        sql = "SELECT '%Y-%m' AS fmt"
        assert rewrite_statement(sql).sql == sql


def test_show_all_tables():
    assert rewrite_statement("SHOW ALL TABLES").sql == "SHOW TABLES"
    # but SHOW TABLES and other SHOW forms pass through
    assert rewrite_statement("SHOW TABLES").sql == "SHOW TABLES"


class TestOffsetLimitOrder:
    """DuckDB/postgres accept OFFSET-before-LIMIT (and OFFSET before
    FETCH); Spark's grammar requires LIMIT n OFFSET m."""

    def test_offset_fetch_swapped(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement(
            "SELECT 1 ORDER BY 1 OFFSET 3 FETCH FIRST 5 ROWS ONLY"
        ).sql
        assert "LIMIT 5 OFFSET 3" in out

    def test_offset_limit_swapped(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT 1 ORDER BY 1 OFFSET 2 LIMIT 4").sql
        assert "LIMIT 4 OFFSET 2" in out

    def test_normal_order_untouched(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT 1 ORDER BY 1 LIMIT 4 OFFSET 2").sql
        assert "LIMIT 4 OFFSET 2" in out


class TestQueryTable:
    """DuckDB query_table('t') TVF → plain table reference
    (reference ingest.go:270 uses it for dynamic table reads)."""

    def test_simple(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT * FROM query_table('region')").sql
        assert "`region`" in out and "query_table" not in out

    def test_qualified(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT * FROM query_table('db.t')").sql
        assert "`db`.`t`" in out

    def test_executes(self, spark, sf_dir):
        from shaper_spark.session import register_sf_tables
        from shaper_spark.rewrite import rewrite_statement

        register_sf_tables(spark, sf_dir)
        rows = spark.sql(
            rewrite_statement("SELECT count(*) AS n FROM query_table('region')").sql
        ).collect()
        assert rows[0]["n"] == 5


class TestDecimalDivisionLiterals:
    """x * 100.0 / y must come back DOUBLE like DuckDB (float division),
    not DecimalType(29,4) — the round-2 cte_share_pct hash skew."""

    def test_mul_div_adjacent_literal_suffixed(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT n * 100.0 / t AS pct FROM x").sql
        assert "100.0D" in out

    def test_divisor_literal_suffixed(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT total / 2.5 AS half FROM x").sql
        assert "2.5D" in out

    def test_additive_literal_untouched(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT price + 0.1 AS p, 1.5 AS v FROM x").sql
        assert "0.1D" not in out and "1.5D" not in out

    def test_string_and_suffixed_untouched(self):
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement("SELECT 'a*1.5' AS s, 2.0D * n AS d FROM x").sql
        assert "a*1.5" in out
        assert "2.0DD" not in out

    def test_executes_as_double(self, spark):
        from shaper_spark.rewrite import rewrite_statement

        df = spark.sql(
            rewrite_statement(
                "SELECT round(5 * 100.0 / 3, 4) AS pct"
            ).sql
        )
        assert dict(df.dtypes)["pct"] == "double"
        assert abs(df.first()["pct"] - 166.6667) < 1e-9


class TestSeriesTableFunctions:
    def test_generate_series_inclusive(self):
        r = rewrite_statement("FROM generate_series(1, 5)")
        assert (
            r.sql
            == "SELECT * FROM (SELECT explode(sequence(1, 5, 1)) AS `generate_series`)"
        )

    def test_range_exclusive_one_arg(self):
        r = rewrite_statement("FROM range(5)")
        assert "sequence(0, 5, 1)" in r.sql and "<> (5)" in r.sql

    def test_range_exclusive_two_args_alias_kept(self):
        r = rewrite_statement("SELECT * FROM range(1, 5) r")
        assert r.sql.endswith(") r") and "<> (5)" in r.sql

    def test_column_list_alias_kept(self):
        r = rewrite_statement("SELECT gs.x FROM generate_series(1,3) gs(x)")
        assert "gs(x)" in r.sql

    def test_timestamp_step_passthrough(self):
        r = rewrite_statement(
            "SELECT * FROM generate_series(TIMESTAMP '2024-01-01', "
            "TIMESTAMP '2024-01-04', INTERVAL 1 DAY)"
        )
        assert (
            "sequence(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-04', "
            "INTERVAL 1 DAY)" in r.sql
        )

    def test_scalar_generate_series_renamed(self):
        r = rewrite_statement("SELECT generate_series(1,4) AS l")
        assert r.sql == "SELECT sequence(1, 4) AS l"

    def test_scalar_range_exclusive_end(self):
        # r10: DuckDB's scalar range() has an EXCLUSIVE end — rewrite
        # to a sliced sequence (empty when start >= end, like DuckDB)
        r = rewrite_statement("SELECT range(1,4) AS l")
        assert "slice(sequence(" in r.sql
        assert "range(" not in r.sql

    def test_from_range_untouched_by_scalar_fixer(self):
        r = rewrite_statement("SELECT * FROM range(3)")
        assert "slice(" not in r.sql

    def test_quoted_literal_untouched(self):
        q = "SELECT 'FROM range(3)' AS s"
        assert rewrite_statement(q).sql == q


class TestExcludeAndDateDiff:
    def test_exclude_star_to_except(self):
        r = rewrite_statement("SELECT * EXCLUDE (b, c) FROM t")
        assert r.sql == "SELECT * EXCEPT (b, c) FROM t"

    def test_exclude_in_string_untouched(self):
        q = "SELECT '* EXCLUDE (x)' AS s"
        assert rewrite_statement(q).sql == q

    def test_date_diff_boundary_rewrite(self):
        r = rewrite_statement("SELECT date_diff('day', a, b) FROM t")
        assert (
            r.sql
            == "SELECT timestampdiff(DAY, date_trunc('day', a), "
            "date_trunc('day', b)) FROM t"
        )

    def test_datediff_plural_part(self):
        r = rewrite_statement("SELECT datediff('months', a, b) FROM t")
        assert "timestampdiff(MONTH," in r.sql

    def test_two_arg_datediff_untouched(self):
        q = "SELECT datediff(a, b) FROM t"
        assert rewrite_statement(q).sql == q

    def test_unknown_part_untouched(self):
        q = "SELECT date_diff('fortnight', a, b) FROM t"
        assert rewrite_statement(q).sql == q

    def test_nested_call_args(self):
        r = rewrite_statement(
            "SELECT date_diff('day', least(a, b), greatest(a, b)) FROM t"
        )
        assert "date_trunc('day', least(a, b))" in r.sql

    def test_list_renames(self):
        assert (
            rewrite_statement("SELECT list_sort(l) FROM t").sql
            == "SELECT array_sort(l) FROM t"
        )
        assert (
            rewrite_statement("SELECT list_distinct(l) FROM t").sql
            == "SELECT array_distinct(l) FROM t"
        )


class TestBraceLiterals:
    def test_struct_literal(self):
        r = rewrite_statement("SELECT {'a': 1, 'b': 'x'} AS s")
        assert r.sql == "SELECT named_struct('a', 1, 'b', 'x') AS s"

    def test_map_literal(self):
        r = rewrite_statement("SELECT MAP {'k': 5, 'j': 7} AS m")
        assert r.sql == "SELECT map('k', 5, 'j', 7) AS m"

    def test_nested_struct(self):
        r = rewrite_statement("SELECT {'o': {'i': 3}} AS s")
        assert (
            r.sql
            == "SELECT named_struct('o', named_struct('i', 3)) AS s"
        )

    def test_expression_values(self):
        r = rewrite_statement("SELECT {'a': 1 + 2, 'b': upper(c)} AS s FROM t")
        assert "named_struct('a', 1 + 2, 'b', upper(c))" in r.sql

    def test_cast_value_keeps_double_colon_safe(self):
        r = rewrite_statement("SELECT {'c': x::INT} AS s FROM t")
        assert (
            "named_struct('c', CAST(CAST((x) AS DECIMAL(38,0)) AS INT))"
            in r.sql
        )

    def test_escaped_quote_key_value(self):
        r = rewrite_statement("SELECT {'q': 'it''s'} AS s")
        assert r.sql == "SELECT named_struct('q', 'it''s') AS s"

    def test_non_struct_braces_untouched(self):
        q = "SELECT '{not: a struct}' AS s"
        assert rewrite_statement(q).sql == q

    def test_unquoted_key_braces_untouched(self):
        # DuckDB requires quoted keys; leave anything else alone
        q = "SELECT a FROM t WHERE b = 'x {y: z} w'"
        assert rewrite_statement(q).sql == q


class TestBackslashAndMiscFixups:
    def test_backslash_doubled_in_literals(self):
        r = rewrite_statement(r"SELECT regexp_extract(x, '\d+') FROM t")
        assert r"'\\d+'" in r.sql
        # and the 2-arg form gets DuckDB's whole-match default
        assert r.sql.endswith(", 0) FROM t")

    def test_backslash_outside_literals_untouched(self):
        # no literal → text unchanged (identifiers can't hold \ anyway)
        q = "SELECT a FROM t"
        assert rewrite_statement(q).sql == q

    def test_three_arg_regexp_extract_untouched(self):
        r = rewrite_statement("SELECT regexp_extract(x, 'p', 1) FROM t")
        assert "regexp_extract(x, 'p', 1)" in r.sql

    def test_date_add_interval_form(self):
        r = rewrite_statement(
            "SELECT date_add(d, INTERVAL 3 DAY) FROM t"
        )
        assert r.sql == "SELECT (d + INTERVAL 3 DAY) FROM t"

    def test_date_add_day_count_form_untouched(self):
        q = "SELECT date_add(d, 3) FROM t"
        assert rewrite_statement(q).sql == q

    def test_rank_over_empty_gets_order(self):
        r = rewrite_statement("SELECT row_number() OVER () AS rn FROM t")
        assert "OVER (ORDER BY (SELECT NULL) NULLS LAST)" in r.sql

    def test_aggregate_over_empty_untouched(self):
        q = "SELECT sum(x) OVER () AS s FROM t"
        assert rewrite_statement(q).sql == q

    def test_strptime_to_timestamp_with_format(self):
        r = rewrite_statement(
            "SELECT strptime(s, '%Y-%m-%d %H:%M') FROM t"
        )
        # parse direction uses lenient single-letter widths (r12)
        assert r.sql == "SELECT to_timestamp(s, 'yyyy-M-d H:m') FROM t"

    def test_new_list_renames(self):
        assert (
            rewrite_statement("SELECT array_length(l) FROM t").sql
            == "SELECT size(l) FROM t"
        )
        assert (
            rewrite_statement("SELECT string_split_regex(s, 'x') FROM t").sql
            == "SELECT split(s, 'x') FROM t"
        )


class TestAsofJoinSql:
    def test_rewrites_to_lateral_top1(self):
        r = rewrite_statement(
            "SELECT t.k FROM trades t ASOF JOIN quotes q "
            "ON t.k = q.k AND t.ts >= q.ts"
        )
        assert "JOIN LATERAL (SELECT * FROM quotes AS q" in r.sql
        assert "ORDER BY q.ts DESC LIMIT 1" in r.sql
        assert "ASOF" not in r.sql

    def test_left_variant(self):
        r = rewrite_statement(
            "SELECT 1 FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.t >= b.t"
        )
        assert "LEFT JOIN LATERAL" in r.sql

    def test_forward_direction(self):
        r = rewrite_statement(
            "SELECT 1 FROM a ASOF JOIN b ON a.k = b.k AND a.t <= b.t"
        )
        assert "ORDER BY b.t ASC NULLS LAST LIMIT 1" in r.sql

    def test_flipped_operands(self):
        r = rewrite_statement(
            "SELECT 1 FROM a ASOF JOIN b ON a.k = b.k AND b.t <= a.t"
        )
        assert "ORDER BY b.t DESC LIMIT 1" in r.sql

    def test_two_inequalities_left_untouched(self):
        q = "SELECT 1 FROM a ASOF JOIN b ON a.t >= b.t AND a.u >= b.u"
        assert "ASOF" in rewrite_statement(q).sql

    def test_asof_in_string_untouched(self):
        q = "SELECT 'x ASOF JOIN y ON 1=1 AND a.t >= b.t' AS s"
        assert rewrite_statement(q).sql == q


class TestSubscriptsAndSlices:
    """DuckDB bracket subscripts are ONE-based with negative-from-end
    and NULL OOB; Spark's are zero-based and error OOB — the rewrite
    maps them onto try_element_at/slice (differential-tested against
    DuckDB in the builder probe)."""

    def test_array_literal_one_based(self):
        r = rewrite_statement("SELECT ([10,20,30])[1] AS v")
        assert "try_element_at((array(10,20,30)), 1)" in r.sql

    def test_negative_and_variable_index(self):
        r = rewrite_statement("SELECT x[-1] AS v, x[i] AS w FROM t")
        assert "try_element_at(x, -1)" in r.sql
        assert "try_element_at(x, i)" in r.sql

    def test_chained_subscripts(self):
        r = rewrite_statement("SELECT m[1][2] AS v FROM t")
        assert "try_element_at(try_element_at(m, 1), 2)" in r.sql

    def test_string_subscript_left_alone(self):
        # Spark's map['k'] / struct['field'] already match DuckDB
        r = rewrite_statement("SELECT m['k'] AS v FROM t")
        assert "m['k']" in r.sql

    def test_struct_literal_subscript(self):
        r = rewrite_statement("SELECT {'a': 5}['a'] AS v")
        assert "named_struct('a', 5)['a']" in r.sql

    def test_slices(self):
        r = rewrite_statement("SELECT x[2:3] AS a, x[:2] AS b, x[3:] AS c FROM t")
        assert "slice(x, 2, (3) - (2) + 1)" in r.sql
        assert "slice(x, 1, 2)" in r.sql
        assert "slice(x, 3, greatest(size(x) - (3) + 1, 0))" in r.sql

    def test_double_colon_cast_not_a_slice(self):
        r = rewrite_statement("SELECT (x)::VARCHAR AS v FROM t")
        assert "slice" not in r.sql and "try_element_at" not in r.sql

    def test_function_call_base(self):
        r = rewrite_statement("SELECT string_split(s, ' ')[2] AS v FROM t")
        assert "try_element_at(split(s, ' '), 2)" in r.sql


class TestMapTwoArrays:
    def test_two_array_map(self):
        r = rewrite_statement("SELECT map(['a','b'], [1,2]) AS m")
        assert "map_from_arrays(array('a','b'), array(1,2))" in r.sql

    def test_pairwise_map_untouched(self):
        r = rewrite_statement("SELECT map('k', 1) AS m")
        assert "map('k', 1)" in r.sql


class TestSimilarTo:
    def test_anchored(self):
        r = rewrite_statement("SELECT 1 WHERE s SIMILAR TO '[A-Z]+'")
        assert "RLIKE '^(?:[A-Z]+)$'" in r.sql

    def test_not_similar(self):
        r = rewrite_statement("SELECT 1 WHERE s NOT SIMILAR TO 'a.*'")
        assert "NOT RLIKE '^(?:a.*)$'" in r.sql


class TestAggOrderBy:
    def test_string_agg_within_group(self):
        r = rewrite_statement("SELECT string_agg(x, ',' ORDER BY x) FROM t")
        assert "listagg(x, ',') WITHIN GROUP (ORDER BY x NULLS LAST)" in r.sql

    def test_array_agg_self_order(self):
        r = rewrite_statement("SELECT array_agg(x ORDER BY x) FROM t")
        assert "sort_array(collect_list(x), True)" in r.sql

    def test_array_agg_self_order_desc(self):
        r = rewrite_statement("SELECT array_agg(x ORDER BY x DESC) FROM t")
        assert "sort_array(collect_list(x), False)" in r.sql

    def test_array_agg_key_order(self):
        r = rewrite_statement("SELECT array_agg(x ORDER BY y) FROM t")
        assert (
            "transform(array_sort(collect_list(struct(y AS __k, x AS __v)))"
            in r.sql
        )

    def test_plain_aggs_keep_nulls_via_struct_wrap(self):
        # r10: plain array_agg must KEEP NULL elements like DuckDB —
        # it rewrites onto the struct-wrapped collect_list
        r = rewrite_statement("SELECT array_agg(x) AS l FROM t")
        assert "collect_list(struct((x) AS v))" in r.sql


class TestListAggregateAndComprehensions:
    def test_list_aggregate_sum(self):
        r = rewrite_statement("SELECT list_aggregate([1,2,3], 'sum') AS s")
        assert "aggregate(array(1,2,3), CAST(0 AS DOUBLE)" in r.sql

    def test_list_aggregate_unknown_fn_untouched(self):
        r = rewrite_statement("SELECT list_aggregate(l, 'histogram') FROM t")
        assert "list_aggregate(l, 'histogram')" in r.sql

    def test_comprehension(self):
        r = rewrite_statement("SELECT [x*2 FOR x IN [1,2,3]] AS l")
        assert "transform(array(1,2,3), x -> x*2)" in r.sql

    def test_comprehension_with_if(self):
        r = rewrite_statement("SELECT [x*2 FOR x IN l IF x > 1] AS o FROM t")
        assert "transform(filter(l, x -> x > 1), x -> x*2)" in r.sql

    def test_json_extract_rename(self):
        r = rewrite_statement("SELECT json_extract(j, '$.a.b') FROM t")
        assert "json_extract_json(j, '$.a.b')" in r.sql


class TestDuckOperators:
    """DuckDB operator spellings — '^' is POWER there and XOR in Spark
    (silent wrong answers), '//' DIV, '~'/'!~' regex, '->'/'->>' JSON
    (all differential-tested against DuckDB in the builder probe)."""

    def test_caret_power(self):
        assert "power(2, 3)" in rewrite_statement("SELECT 2 ^ 3 AS v").sql

    def test_double_star_power(self):
        assert "power(2, 3)" in rewrite_statement("SELECT 2 ** 3 AS v").sql

    def test_paren_operand(self):
        assert "power((1+1), 3)" in rewrite_statement("SELECT (1+1) ^ 3").sql

    def test_int_div(self):
        # r10: zero-guarded DIV — DuckDB 1.0 truncates like DIV but
        # yields NULL on a zero divisor where DIV raises
        out = rewrite_statement("SELECT 7 // 2 AS v").sql
        assert "(7) DIV (2)" in out and "WHEN (2) = 0 THEN NULL" in out

    def test_tilde_regex(self):
        r = rewrite_statement("SELECT 1 WHERE s ~ 'a.c'")
        assert "s RLIKE 'a.c'" in r.sql

    def test_not_tilde(self):
        r = rewrite_statement("SELECT 1 WHERE s !~ 'a.c'")
        assert "s NOT RLIKE 'a.c'" in r.sql

    def test_json_arrows(self):
        r = rewrite_statement("SELECT j -> 'a' AS v, j ->> '$.b.c' AS w FROM t")
        assert "json_extract_json(j, '$.a')" in r.sql
        assert "get_json_object(j, '$.b.c')" in r.sql

    def test_json_arrow_chain(self):
        r = rewrite_statement("SELECT j -> 'a' ->> 'b' AS v FROM t")
        assert "get_json_object(json_extract_json(j, '$.a'), '$.b')" in r.sql

    def test_lambda_arrow_untouched(self):
        r = rewrite_statement("SELECT list_transform(l, x -> 'a') FROM t")
        assert "x -> 'a'" in r.sql
        r2 = rewrite_statement("SELECT aggregate(l, 0, (acc, x) -> acc + x) FROM t")
        assert "(acc, x) -> acc + x" in r2.sql

    def test_caret_inside_literal_untouched(self):
        r = rewrite_statement("SELECT regexp_matches(s, '^a') FROM t")
        assert "'^a'" in r.sql


class TestDistinctOnAndFriends:
    def test_distinct_on_with_order(self):
        r = rewrite_statement(
            "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v"
        )
        assert "DISTINCT ON" not in r.sql.upper()
        assert "PARTITION BY k ORDER BY k NULLS LAST, v NULLS LAST" in r.sql
        assert "QUALIFY" not in r.sql.upper() or "row_number" in r.sql

    def test_star_replace(self):
        r = rewrite_statement("SELECT * REPLACE (k + 1 AS k) FROM t")
        assert "* EXCEPT (k), k + 1 AS k" in r.sql

    def test_using_sample_percent(self):
        r = rewrite_statement("SELECT * FROM t USING SAMPLE 10%")
        assert "TABLESAMPLE (10 PERCENT)" in r.sql

    def test_array_slice_fn(self):
        r = rewrite_statement("SELECT array_slice(l, 2, 3) FROM t")
        assert "slice(l, 2, (3) - (2) + 1)" in r.sql

    def test_trim_arg_swap(self):
        r = rewrite_statement("SELECT ltrim(s, 'x'), rtrim(s, 'y') FROM t")
        assert "ltrim('x', s)" in r.sql
        assert "rtrim('y', s)" in r.sql
        assert "/*swapped*/" not in r.sql

    def test_trim_one_arg_untouched(self):
        r = rewrite_statement("SELECT ltrim(s) FROM t")
        assert "ltrim(s)" in r.sql

    def test_list_renames(self):
        r = rewrite_statement(
            "SELECT list_zip(a, b), list_position(a, 1), list_reverse(a) FROM t"
        )
        assert "arrays_zip(a, b)" in r.sql
        assert "array_position(a, 1)" in r.sql
        assert "reverse(a)" in r.sql


class TestFnCompat2:
    """Batch-3 differential fixes (each verified against DuckDB):
    sample-stat corrections, extract fields, date_sub, time_bucket,
    regexp_extract_all group 0, format{}, to_base, quantile alias."""

    def test_skewness_sample_correction(self):
        r = rewrite_statement("SELECT skewness(x) FROM t")
        # try_divide: n <= 2 is NULL like DuckDB (r11 fuzzer)
        assert (
            "try_divide(skewness(x) * sqrt(count(x) * (count(x) - 1)), "
            "count(x) - 2)" in r.sql
        )
        assert "/*G1*/" not in r.sql

    def test_kurtosis_sample_correction(self):
        r = rewrite_statement("SELECT kurtosis(x) FROM t")
        assert "(count(x) + 1) * kurtosis(x) + 6" in r.sql

    def test_extract_epoch_dow_isodow(self):
        r = rewrite_statement(
            "SELECT extract(epoch FROM ts), extract(dow FROM d), "
            "extract(isodow FROM d) FROM t"
        )
        assert "unix_micros(CAST(ts AS TIMESTAMP)) / 1000000.0" in r.sql
        assert "(dayofweek(d) - 1)" in r.sql
        assert "(weekday(d) + 1)" in r.sql

    def test_extract_year_untouched(self):
        r = rewrite_statement("SELECT extract(year FROM d) FROM t")
        assert "extract(year FROM d)" in r.sql

    def test_date_sub_three_arg(self):
        r = rewrite_statement("SELECT date_sub('day', a, b) FROM t")
        assert "timestampdiff(DAY, a, b)" in r.sql

    def test_date_sub_two_arg_untouched(self):
        r = rewrite_statement("SELECT date_sub(d, 2) FROM t")
        assert "date_sub(d, 2)" in r.sql

    def test_time_bucket_fixed_width(self):
        r = rewrite_statement(
            "SELECT time_bucket(INTERVAL 15 MINUTE, ts) FROM t"
        )
        # pmod floors pre-origin timestamps too (r12 temporal fuzz find)
        assert "pmod(unix_timestamp(ts) - 946857600, 900)" in r.sql
        assert "946857600" in r.sql  # the 2000-01-03 Monday origin

    def test_time_bucket_month_untouched(self):
        r = rewrite_statement(
            "SELECT time_bucket(INTERVAL 1 MONTH, ts) FROM t"
        )
        assert "time_bucket(INTERVAL 1 MONTH, ts)" in r.sql

    def test_regexp_extract_all_group0(self):
        r = rewrite_statement("SELECT regexp_extract_all(s, '[0-9]') FROM t")
        assert "regexp_extract_all(s, '[0-9]', 0)" in r.sql

    def test_format_plain_slots(self):
        r = rewrite_statement("SELECT format('{} + {}', 1, 2)")
        assert "format_string('%s + %s', 1, 2)" in r.sql

    def test_format_spec_slots_now_convert(self):
        # r11: precision/d/s specs convert too (unknown specs like
        # alignment still pass through untouched)
        r = rewrite_statement("SELECT format('{:.2f}', 1.5)")
        assert "format_string('%.2f', CAST(1.5 AS DOUBLE))" in r.sql
        r2 = rewrite_statement("SELECT format('{:>8}', x)")
        assert "format_string" not in r2.sql

    def test_to_base_and_quantile(self):
        r = rewrite_statement("SELECT to_base(255, 16), quantile(x, 0.5) FROM t")
        assert "conv(255, 10, 16)" in r.sql
        assert "percentile_approx(x, 0.5)" in r.sql


class TestFnCompat3:
    """Batch-4 sweep: string/list/date/struct function surface
    (differential-tested against DuckDB)."""

    def test_renames(self):
        r = rewrite_statement(
            "SELECT strpos(s,'x'), starts_with(s,'a'), ends_with(s,'b'), "
            "prefix(s,'a'), suffix(s,'b'), list_intersect(l, m), "
            "list_has_any(l, m), array_concat(l, m), gen_random_uuid() FROM t"
        ).sql
        for frag in ("instr(s,'x')", "startswith(s,'a')", "endswith(s,'b')",
                     "startswith(s,'a')", "endswith(s,'b')",
                     "array_intersect(l, m)", "arrays_overlap(l, m)",
                     "concat(l /*ARR*/, m)", "uuid()"):
            assert frag in r, frag

    def test_day_month_names(self):
        r = rewrite_statement("SELECT dayname(d), monthname(d) FROM t").sql
        assert "date_format(d, 'EEEE')" in r
        assert "date_format(d, 'MMMM')" in r

    def test_yearweek(self):
        r = rewrite_statement("SELECT yearweek(d) FROM t").sql
        assert "extract(YEAROFWEEK FROM d) * 100 + weekofyear(d)" in r

    def test_list_has_all(self):
        r = rewrite_statement("SELECT list_has_all(l, sub) FROM t").sql
        assert "(size(array_except(sub, l)) = 0)" in r

    def test_struct_pack_and_extract(self):
        r = rewrite_statement(
            "SELECT struct_pack(a := 1, b := 'x'), struct_extract(s, 'a') FROM t"
        ).sql
        assert "named_struct('a', 1, 'b', 'x')" in r
        assert "(s)['a']" in r


class TestFilterOverAnyAllIgnoreNulls:
    """Batch-5 sweep (differential-tested against DuckDB)."""

    def test_filter_over_window(self):
        r = rewrite_statement(
            "SELECT count(*) FILTER (WHERE x > 1) OVER (ORDER BY x) FROM t"
        ).sql
        assert "count(CASE WHEN x > 1 THEN 1 END) OVER (ORDER BY x NULLS LAST)" in r

    def test_filter_over_sum(self):
        r = rewrite_statement(
            "SELECT sum(y) FILTER (WHERE x > 1) OVER (ORDER BY x) FROM t"
        ).sql
        assert "sum(CASE WHEN x > 1 THEN y END) OVER" in r

    def test_filter_plain_agg_untouched(self):
        r = rewrite_statement("SELECT count(*) FILTER (WHERE x > 1) FROM t").sql
        assert "FILTER (WHERE x > 1)" in r

    def test_any_eq_to_array_contains(self):
        r = rewrite_statement("SELECT 2 = ANY(arr) FROM t").sql
        assert "array_contains(arr, 2)" in r

    def test_any_all_lambdas(self):
        r = rewrite_statement("SELECT x < ANY(arr), x < ALL(arr) FROM t").sql
        assert "exists(arr, __e -> x < __e)" in r
        assert "forall(arr, __e -> x < __e)" in r

    def test_any_subquery_lowers_to_in(self):
        # batch-24 supersedes the old leave-untouched behavior
        r = rewrite_statement("SELECT x = ANY(SELECT y FROM u) FROM t").sql
        assert "x IN (SELECT * FROM (SELECT y FROM u) AS __qv)" in r

    def test_ignore_nulls_moves_out(self):
        r = rewrite_statement(
            "SELECT last_value(x IGNORE NULLS) OVER (ORDER BY i) FROM t"
        ).sql
        assert "last_value(x) IGNORE NULLS OVER" in r


def _has_qualify_clause(sql: str) -> bool:
    """True if a bare QUALIFY keyword remains (the __qualify__ helper
    identifiers do not count)."""
    import re as _re

    return bool(_re.search(r"(?<![_A-Za-z])QUALIFY(?![_A-Za-z])", sql, _re.I))


class TestNestedQualifyDistinctOn:
    """Batch-6 sweep: QUALIFY (and DISTINCT ON, which lowers into it)
    now rewrites at every nesting depth, and a trailing ORDER BY may
    reference source columns the select list does not project
    (DuckDB/Postgres-legal; the rewrite injects them as dropped helper
    columns). Differential-tested against DuckDB."""

    def test_qualify_in_cte(self):
        r = rewrite_statement(
            "WITH r AS (SELECT a FROM t QUALIFY row_number()"
            " OVER (ORDER BY a) <= 2) SELECT a FROM r"
        )
        assert not _has_qualify_clause(r.sql)
        assert "__qualify__" in r.sql

    def test_qualify_in_derived_table(self):
        r = rewrite_statement(
            "SELECT * FROM (SELECT a FROM t QUALIFY row_number()"
            " OVER (ORDER BY a) <= 3) s"
        )
        assert not _has_qualify_clause(r.sql)

    def test_two_sibling_nested_qualifies(self):
        r = rewrite_statement(
            "SELECT * FROM (SELECT a FROM t QUALIFY row_number() OVER"
            " (ORDER BY a) <= 1) x JOIN (SELECT b FROM u QUALIFY"
            " row_number() OVER (ORDER BY b) <= 1) y ON x.a = y.b"
        )
        assert not _has_qualify_clause(r.sql)
        assert r.sql.count("__qualify__") >= 4  # both sides rewritten

    def test_distinct_on_in_subquery(self):
        r = rewrite_statement(
            "SELECT c FROM (SELECT DISTINCT ON (g) g, c FROM t"
            " ORDER BY g, x) s"
        )
        assert "DISTINCT ON" not in r.sql.upper()
        assert not _has_qualify_clause(r.sql)

    def test_order_by_unprojected_column_gets_helper(self):
        r = rewrite_statement(
            "SELECT DISTINCT ON (g) g FROM t ORDER BY g, other_col"
        )
        # other_col is not projected: it must ride as a dropped helper
        assert "__ob1__" in r.sql
        assert "EXCEPT (__qualify__, __ob0__, __ob1__)" in r.sql

    def test_order_by_positional_kept(self):
        r = rewrite_statement(
            "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a)"
            " = 1 ORDER BY 1"
        )
        assert "ORDER BY 1" in r.sql


class TestLambdaIndexBase:
    """Batch-6 silent-wrong fix: DuckDB's optional second lambda param
    in list_transform/list_filter is the 1-BASED index; Spark's is
    0-based. Same syntax, different values — differential-tested."""

    def test_transform_index_shifted(self):
        r = rewrite_statement(
            "SELECT list_transform([1,2,3], (x, i) -> x + i)"
        )
        assert "(__ix1b_i + 1)" in r.sql
        assert "(x, __ix1b_i) ->" in r.sql

    def test_filter_index_shifted(self):
        r = rewrite_statement(
            "SELECT list_filter([10,20], (v, pos) -> pos > 1)"
        )
        assert "(__ix1b_pos + 1) > 1" in r.sql

    def test_one_param_lambda_untouched(self):
        r = rewrite_statement("SELECT list_transform([1], x -> x * 2)")
        assert "__ix1b" not in r.sql

    def test_nested_lambdas_both_shifted(self):
        r = rewrite_statement(
            "SELECT list_transform([[1]], (x, i) ->"
            " list_transform(x, (y, j) -> y + i + j))"
        )
        assert r.sql.count("__ix1b_") >= 4  # both params + both uses

    def test_reduce_lambda_untouched(self):
        # (acc, x) in reduce is NOT an index pair — must not shift
        r = rewrite_statement(
            "SELECT reduce(a, 0, (acc, x) -> acc + x) FROM t"
        )
        assert "__ix1b" not in r.sql

    def test_filter_where_clause_untouched(self):
        r = rewrite_statement(
            "SELECT count(*) FILTER (WHERE x = 1) FROM t"
        )
        assert "__ix1b" not in r.sql


class TestEntropyHistogramEmulation:
    """Batch-6: DuckDB's entropy()/histogram() aggregates emulated
    over collect_list (differential-tested against DuckDB)."""

    def test_entropy_rewritten(self):
        r = rewrite_statement("SELECT entropy(x) FROM t GROUP BY g")
        assert "entropy(" not in r.sql
        assert "log2" in r.sql and "collect_list(x" in r.sql

    def test_histogram_rewritten(self):
        r = rewrite_statement("SELECT histogram(x) FROM t")
        assert "histogram(" not in r.sql
        assert "map_from_entries" in r.sql

    def test_entropy_not_reapplied(self):
        once = rewrite_statement("SELECT entropy(x) FROM t").sql
        again = rewrite_statement(once).sql
        assert again == once


class TestBatch7Sweep:
    """Batch-7 differential fixes (verified against DuckDB in the
    round-10 probe)."""

    def test_literal_split_escapes_regex_specials(self):
        # DuckDB string_split's delimiter is LITERAL; Spark split is
        # regex — '.' silently split every character before
        r = rewrite_statement("SELECT string_to_array('a.b', '.')")
        assert r"split('a.b', '\.')" in r.sql.replace("\\\\", "\\")

    def test_dynamic_split_quoted(self):
        r = rewrite_statement("SELECT string_split(s, d) FROM t")
        assert "\\Q" in r.sql and "\\E" in r.sql

    def test_list_unique_counts(self):
        # DuckDB list_unique COUNTS distinct non-NULL elements — the
        # old array_distinct rename silently returned an array
        r = rewrite_statement("SELECT list_unique([1,2,2])")
        assert "size(array_distinct(array_compact(" in r.sql

    def test_list_distinct_still_array(self):
        r = rewrite_statement("SELECT list_distinct([1,2,2])")
        assert "array_distinct(array(1,2,2))" in r.sql
        assert "size(" not in r.sql

    def test_list_sort_direction(self):
        r = rewrite_statement("SELECT list_sort(l, 'DESC') FROM t")
        assert "sort_array(l, false)" in r.sql
        r = rewrite_statement("SELECT list_reverse_sort(l) FROM t")
        assert "sort_array(l, false)" in r.sql

    def test_regexp_matches_flags(self):
        r = rewrite_statement("SELECT regexp_matches(s, p, 'i') FROM t")
        assert "concat('(?i)', p)" in r.sql

    def test_date_part_list_to_struct(self):
        r = rewrite_statement(
            "SELECT date_part(['year','month'], d) FROM t"
        )
        assert "named_struct('year', date_part('year', d)" in r.sql

    def test_map_extract_list_result(self):
        r = rewrite_statement("SELECT map_extract(m, 'k') FROM t")
        assert "map_contains_key(m, 'k')" in r.sql
        assert "array(element_at(m, 'k'))" in r.sql

    def test_starts_with_operator(self):
        r = rewrite_statement("SELECT a ^@ b, 2 ^ 3 FROM t")
        assert "startswith(a, b)" in r.sql
        assert "power(2, 3)" in r.sql

    def test_fixed_size_array_type(self):
        r = rewrite_statement("SELECT x::FLOAT[2] FROM t")
        assert "ARRAY<FLOAT>" in r.sql
        assert "try_element_at" not in r.sql

    def test_array_similarity_kernels(self):
        r = rewrite_statement("SELECT array_cosine_similarity(a, b) FROM t")
        assert "zip_with(a, b, (x, y) -> x * y)" in r.sql
        r = rewrite_statement("SELECT array_distance(a, b) FROM t")
        assert "(x - y) * (x - y)" in r.sql


class TestBatch8Sweep:
    """Batch-8 differential fixes (verified against DuckDB in the
    round-10 probe)."""

    def test_two_arg_trim_swapped(self):
        # the r9 sweep fixed ltrim/rtrim but missed plain trim — the
        # same silent argument-order reversal
        r = rewrite_statement("SELECT trim('xxhixx', 'x')")
        assert "trim('x', 'xxhixx')" in r.sql

    def test_btrim_maps_to_trim_swapped(self):
        r = rewrite_statement("SELECT btrim(s, 'z') FROM t")
        assert "trim('z', s)" in r.sql

    def test_one_arg_trim_untouched(self):
        r = rewrite_statement("SELECT trim('  y  ')")
        assert "trim('  y  ')" in r.sql

    def test_xor_never_becomes_power(self):
        r = rewrite_statement("SELECT xor(a, b) FROM t")
        assert "power" not in r.sql and "|" in r.sql and "&" in r.sql

    def test_product_aggregate(self):
        r = rewrite_statement("SELECT product(x) FROM t")
        assert "aggregate(collect_list(x" in r.sql
        assert "s * v" in r.sql

    def test_first_last_order_by(self):
        r = rewrite_statement("SELECT first(x ORDER BY k) FROM t")
        assert "min_by(x, k)" in r.sql
        r = rewrite_statement("SELECT last(x ORDER BY k) FROM t")
        assert "max_by(x, k)" in r.sql
        r = rewrite_statement("SELECT first(x ORDER BY k DESC) FROM t")
        assert "max_by(x, k)" in r.sql

    def test_first_plain_untouched(self):
        r = rewrite_statement("SELECT first(x) FROM t")
        assert "first(x)" in r.sql

    def test_codec_one_arg_gets_charset(self):
        r = rewrite_statement("SELECT decode(encode('hi'))")
        assert "encode('hi', 'UTF-8')" in r.sql
        assert r.sql.count("'UTF-8'") == 2

    def test_unit_interval_constructors(self):
        r = rewrite_statement("SELECT to_seconds(90), to_years(2)")
        assert "make_dt_interval(0, 0, 0, 90)" in r.sql
        assert "make_ym_interval(2, 0)" in r.sql

    def test_format_bytes(self):
        r = rewrite_statement("SELECT format_bytes(n) FROM t")
        assert "' KiB'" in r.sql and "' bytes'" in r.sql

    def test_json_valid(self):
        r = rewrite_statement("SELECT json_valid(j) FROM t")
        assert "get_json_object(j, '$') IS NOT NULL" in r.sql


class TestBatch9Sweep:
    """Batch-9 differential fixes (round-10 probe, third pass)."""

    def test_list_sum_no_longer_broken(self):
        # the old rename emitted a placeholder fn name that could
        # never resolve
        r = rewrite_statement("SELECT list_sum(l) FROM t")
        assert "aggregate_sum_" not in r.sql
        # r11: NULL elements are skipped (aggregate over array_compact)
        # and empty/all-NULL input yields NULL, matching DuckDB
        assert (
            "aggregate(array_compact(l), CAST(0 AS DOUBLE), "
            "(s, v) -> s + v)" in r.sql
        )
        assert "CASE WHEN size(array_compact(l)) > 0" in r.sql

    def test_list_avg(self):
        r = rewrite_statement("SELECT list_avg(l) FROM t")
        assert "size(array_compact(l)))" in r.sql

    def test_isoyear_and_century(self):
        r = rewrite_statement("SELECT isoyear(d), century(d) FROM t")
        assert "extract(YEAROFWEEK FROM d)" in r.sql
        assert "ceil(year(d) / 100.0" in r.sql  # literal may gain a D suffix

    def test_renames(self):
        r = rewrite_statement(
            "SELECT approx_quantile(x, 0.5), row(a, b), epoch_us(t),"
            " to_hex(n), list_element(l, 2) FROM t"
        )
        for frag in (
            "percentile_approx(x, 0.5)",
            "struct(a, b)",
            "unix_micros(CAST((t) AS TIMESTAMP))",
            "hex(n)",
            "element_at(l, 2)",
        ):
            assert frag in r.sql

    def test_dot_product_alias(self):
        r = rewrite_statement("SELECT list_dot_product(a, b) FROM t")
        assert "zip_with(a, b, (x, y) -> x * y)" in r.sql


class TestDivisionByZeroParity:
    """Batch-10: DuckDB yields NULL on a zero divisor where ANSI Spark
    raises — '/', '%', '//' all rewrite to try-variants (differential-
    tested; '/' semantics identical elsewhere, '//' keeps DIV's exact
    64-bit truncation under a zero guard)."""

    def test_slash_to_try_divide(self):
        r = rewrite_statement("SELECT a / b FROM t")
        assert "try_divide(a, b)" in r.sql

    def test_percent_to_try_mod(self):
        r = rewrite_statement("SELECT a % b FROM t")
        assert "try_mod(a, b)" in r.sql

    def test_chained_division_left_assoc(self):
        r = rewrite_statement("SELECT a / b / c FROM t")
        assert "try_divide(try_divide(a, b), c)" in r.sql

    def test_precedence_with_addition(self):
        r = rewrite_statement("SELECT a + b / c FROM t")
        assert "a + try_divide(b, c)" in r.sql

    def test_strings_and_like_untouched(self):
        r = rewrite_statement(
            "SELECT 'a/b', '100%' FROM t WHERE x LIKE 'N%'"
        )
        assert "'a/b'" in r.sql and "'100%'" in r.sql and "'N%'" in r.sql

    def test_divisor_literal_still_suffixed(self):
        r = rewrite_statement("SELECT total / 2.5 FROM x")
        assert "try_divide(total, 2.5D)" in r.sql

    # r11 (ADVICE high): the dividend must absorb the whole left chain
    # of equal-precedence multiplicative operators — '7 * 3 % 5' is
    # '(7*3) % 5' = 1, not '7 * (3%5)' = 21.  All differential-tested
    # vs DuckDB 1.0 (21-case arithmetic-chain probe).

    def test_mult_chain_before_mod(self):
        r = rewrite_statement("SELECT 7 * 3 % 5")
        assert "try_mod(7 * 3, 5)" in r.sql

    def test_mult_chain_before_intdiv(self):
        r = rewrite_statement("SELECT 6 * 4 // 5")
        assert "(6 * 4) DIV (5)" in r.sql

    def test_mod_then_mult_right_assoc_unchanged(self):
        r = rewrite_statement("SELECT 7 % 3 * 5")
        assert "try_mod(7, 3) * 5" in r.sql

    def test_unary_minus_in_chain(self):
        r = rewrite_statement("SELECT 7 * -3 % 5")
        assert "try_mod(7 * -3, 5)" in r.sql

    def test_mod_chain_before_divide(self):
        r = rewrite_statement("SELECT 9 % 2 / 3")
        assert "try_divide(try_mod(9, 2), 3)" in r.sql

    def test_lower_precedence_not_absorbed(self):
        r = rewrite_statement("SELECT 1 - 7 * 3 % 5")
        assert "1 - try_mod(7 * 3, 5)" in r.sql

    def test_select_star_not_multiplication(self):
        r = rewrite_statement("SELECT *, x % 3 FROM t")
        assert "SELECT *, try_mod(x, 3)" in r.sql


class TestBatch12Sweep:
    """Batch-12: string-distance and float-predicate scalars
    (differential-tested against DuckDB)."""

    def test_jaccard_char_sets(self):
        r = rewrite_statement("SELECT jaccard(a, b) FROM t")
        assert "array_intersect" in r.sql and "array_union" in r.sql

    def test_hamming_and_mismatches(self):
        r = rewrite_statement("SELECT hamming(a, b), mismatches(a, b) FROM t")
        assert r.sql.count("zip_with") == 2

    def test_even_isinf_isfinite(self):
        r = rewrite_statement(
            "SELECT even(x), isinf(x), isfinite(x) FROM t"
        )
        assert "ceil(abs(CAST(x AS DOUBLE)) " in r.sql
        assert "CAST('Infinity' AS DOUBLE)" in r.sql
        assert "NOT isnan" in r.sql

    def test_unicode_rename(self):
        r = rewrite_statement("SELECT unicode(s) FROM t")
        assert "ascii(s)" in r.sql


class TestBatch13Sweep:
    """Batch-13 differential fixes."""

    def test_dayofweek_zero_based(self):
        # silent off-by-one: DuckDB dayofweek/weekday are 0=Sunday,
        # Spark dayofweek is 1=Sunday (weekday is 0=MONDAY)
        r = rewrite_statement("SELECT dayofweek(d), weekday(d) FROM t")
        assert r.sql.count("(dayofweek(d) - 1)") == 2

    def test_isodow(self):
        r = rewrite_statement("SELECT isodow(d) FROM t")
        assert "pmod(dayofweek(d) + 5, 7) + 1" in r.sql

    def test_list_reduce_no_init(self):
        r = rewrite_statement("SELECT list_reduce(l, (a, b) -> a + b) FROM t")
        assert "slice(l, 2, greatest(size(l) - 1, 0))" in r.sql
        assert "try_element_at(l, 1)" in r.sql

    def test_list_where_select_grade(self):
        r = rewrite_statement(
            "SELECT list_where(l, m), list_select(l, ix),"
            " list_grade_up(l) FROM t"
        )
        assert "s.m), s -> s.x)" in r.sql
        assert "transform(ix, i -> try_element_at(l, CAST(i AS INT)))" in r.sql
        assert "sequence(1, size(l))" in r.sql

    def test_in_values(self):
        r = rewrite_statement("SELECT 1 IN (VALUES (1), (2)) AS i")
        assert "IN (SELECT * FROM VALUES (1), (2))" in r.sql

    def test_renames(self):
        r = rewrite_statement(
            "SELECT datetrunc('month', d), strlen(s), ord(s) FROM t"
        )
        assert "date_trunc('month', d)" in r.sql
        assert "octet_length(s)" in r.sql
        assert "ascii(s)" in r.sql


class TestBatch14AggregateEdges:
    """Batch-14: aggregate NULL/default-separator semantics
    (differential-tested — all three were silent wrong answers)."""

    def test_string_agg_default_separator(self):
        # DuckDB's 1-arg default separator is ','; Spark listagg's is ''
        r = rewrite_statement("SELECT string_agg(x) FROM t")
        assert "listagg(x, ',')" in r.sql
        r = rewrite_statement("SELECT group_concat(x) FROM t")
        assert "listagg(x, ',')" in r.sql

    def test_string_agg_explicit_sep_untouched(self):
        r = rewrite_statement("SELECT string_agg(x, '-') FROM t")
        assert "listagg(x, '-')" in r.sql

    def test_array_agg_keeps_nulls(self):
        # collect_list drops NULL elements; DuckDB array_agg keeps them
        r = rewrite_statement("SELECT array_agg(x) FROM t")
        assert "collect_list(struct((x) AS v))" in r.sql
        assert "s -> s.v" in r.sql

    def test_array_agg_ordered_form_still_sorts(self):
        r = rewrite_statement("SELECT array_agg(x ORDER BY x) FROM t")
        assert "sort_array(collect_list(x), True)" in r.sql

    def test_any_value_skips_nulls(self):
        r = rewrite_statement("SELECT any_value(x) FROM t")
        assert "any_value(x, true)" in r.sql


class TestBatch16Sweep:
    """r11 batch-16: aggregate-edge probe results (26 forms probed vs
    DuckDB 1.0; bool_and/or, product, bit_*, sum(DISTINCT), count_if,
    quantile lists, corr/covar, ROLLUP+grouping all already matched)."""

    def test_geomean(self):
        r = rewrite_statement("SELECT geomean(x) FROM t")
        assert "exp(avg(ln(CAST(x AS DOUBLE))))" in r.sql

    def test_geometric_mean_alias(self):
        r = rewrite_statement("SELECT geometric_mean(x) FROM t")
        assert "exp(avg(ln(" in r.sql

    def test_bare_filter_gets_where(self):
        r = rewrite_statement("SELECT avg(x) FILTER (b) FROM t")
        assert "FILTER (WHERE b)" in r.sql

    def test_bare_filter_with_expression(self):
        r = rewrite_statement(
            "SELECT count(*) FILTER (x > 1), sum(y) FILTER (x < 0) FROM t"
        )
        assert r.sql.count("FILTER (WHERE") == 2

    def test_filter_where_untouched(self):
        r = rewrite_statement("SELECT avg(x) FILTER (WHERE b) FROM t")
        assert r.sql.count("WHERE") == 1

    def test_hof_filter_untouched(self):
        r = rewrite_statement("SELECT filter(l, y -> y > 1) FROM t")
        assert "WHERE" not in r.sql

    # r11 batch-16 continued: string/list/scalar edges (all
    # differential-verified vs DuckDB 1.0 in the 26-case probe)

    def test_left_right_negative(self):
        r = rewrite_statement("SELECT left(s, -2), right(s, -2) FROM t")
        # left emits one substr; right emits one per sign branch
        assert r.sql.count("substr(") == 3
        assert "left(" not in r.sql and "right(" not in r.sql
        # non-negative literals stay native
        r2 = rewrite_statement("SELECT left(s, 3), right(s, 2) FROM t")
        assert "substr(" not in r2.sql

    def test_substring_zero_start_window(self):
        r = rewrite_statement("SELECT substring(s, 0, 3) FROM t")
        assert "substr(s, greatest(" in r.sql
        # positive literal start untouched
        r2 = rewrite_statement("SELECT substring(s, 2, 3) FROM t")
        assert "substr(" not in r2.sql

    def test_trunc_one_arg(self):
        r = rewrite_statement("SELECT trunc(x) FROM t")
        assert "floor(x)" in r.sql and "ceil(x)" in r.sql
        # the 2-arg date form stays native
        r2 = rewrite_statement("SELECT trunc(d, 'MM') FROM t")
        assert "floor" not in r2.sql

    def test_list_slice_three_and_four_arg(self):
        r = rewrite_statement("SELECT list_slice(l, 2, 4) FROM t")
        assert "slice(l" in r.sql
        r4 = rewrite_statement("SELECT list_slice(l, 1, 5, 2) FROM t")
        assert "transform(sequence(" in r4.sql

    def test_editdist3_and_grapheme_renames(self):
        r = rewrite_statement(
            "SELECT editdist3(a, b), substring_grapheme(s, 2, 2) FROM t"
        )
        assert "levenshtein(a, b)" in r.sql
        assert "substring(s, 2, 2)" in r.sql

    def test_md5_number_halves(self):
        r = rewrite_statement("SELECT md5_number_lower(x) FROM t")
        assert "conv(" in r.sql and "DECIMAL(20,0)" in r.sql

    def test_date_literal_minus(self):
        r = rewrite_statement(
            "SELECT DATE '2024-03-01' - DATE '2024-02-01'"
        )
        assert "datediff(DATE '2024-03-01', DATE '2024-02-01')" in r.sql

    def test_format_precision_spec(self):
        r = rewrite_statement("SELECT format('{:.2f} {}', x, y)")
        assert "format_string('%.2f %s'" in r.sql
        assert "CAST(x AS DOUBLE)" in r.sql


class TestBatch17Windows:
    """r11 batch-17: window-edge probe (16 forms vs DuckDB 1.0 —
    lag(-n), lead defaults, nth_value, IGNORE NULLS, ntile,
    percent_rank/cume_dist, named WINDOW clause, RANGE numeric frames
    all already matched; GROUPS frames unsupported in DuckDB 1.0)."""

    def test_rank_over_partition_without_order(self):
        r = rewrite_statement(
            "SELECT row_number() OVER (PARTITION BY g) FROM t"
        )
        assert "ORDER BY (SELECT NULL)" in r.sql

    def test_rank_over_partition_with_order_untouched(self):
        r = rewrite_statement(
            "SELECT rank() OVER (PARTITION BY a, b ORDER BY c) FROM t"
        )
        assert "SELECT NULL" not in r.sql

    def test_aggregate_over_partition_untouched(self):
        # aggregates over an unordered partition are legal Spark — an
        # injected ORDER BY would shrink their frame to running totals
        r = rewrite_statement(
            "SELECT sum(x) OVER (PARTITION BY g) FROM t"
        )
        assert "SELECT NULL" not in r.sql


class TestBatch17Json:
    """r11 batch-17 (JSON family): 19-form probe vs DuckDB 1.0 —
    json_valid/1-arg array_length/$-paths/to_json/json_keys already
    matched; these close the rest (all differential-verified)."""

    def test_json_array_length_with_path(self):
        r = rewrite_statement("SELECT json_array_length(j, 'b') FROM t")
        assert "json_array_length(get_json_object(j, '$.b'))" in r.sql
        r2 = rewrite_statement(
            "SELECT json_array_length(j, '$.b') FROM t"
        )
        assert "get_json_object(j, '$.b')" in r2.sql

    def test_json_type_path_form(self):
        r = rewrite_statement("SELECT json_type(j, 'a') FROM t")
        assert "json_type2(j, '$.a')" in r.sql
        # 1-arg resolves to the compat UDF untouched
        r1 = rewrite_statement("SELECT json_type(j) FROM t")
        assert "json_type(j)" in r1.sql

    def test_arrow_integer_index(self):
        r = rewrite_statement("SELECT '[5,6,7]' -> 1")
        assert "json_extract_json('[5,6,7]', '$[1]')" in r.sql

    def test_json_quote(self):
        r = rewrite_statement("SELECT json_quote(x) FROM t")
        assert "to_json(named_struct('v', x))" in r.sql
        assert "THEN NULL" in r.sql  # SQL NULL stays NULL

    def test_json_array_and_object_ctors(self):
        r = rewrite_statement("SELECT json_array(1, 'two', NULL)")
        assert "concat_ws(','" in r.sql and "'null'" in r.sql
        r2 = rewrite_statement("SELECT json_object('a', 1)")
        assert "concat('{'" in r2.sql

    def test_json_group_aggregates(self):
        r = rewrite_statement("SELECT json_group_array(x) FROM t")
        assert "collect_list(" in r.sql
        r2 = rewrite_statement("SELECT json_group_object(k, v) FROM t")
        assert "collect_list(concat(" in r2.sql

    def test_from_json_structure_conversion(self):
        r = rewrite_statement(
            """SELECT from_json(j, '{"a":"UBIGINT","c":{"d":"VARCHAR"}}')"""
            " FROM t"
        )
        assert (
            "from_json(j, 'STRUCT<`a`: BIGINT, `c`: "
            "STRUCT<`d`: STRING>>')" in r.sql
        )
        # a Spark DDL second arg passes through untouched
        r2 = rewrite_statement(
            "SELECT from_json(j, 'a INT, b STRING') FROM t"
        )
        assert "'a INT, b STRING'" in r2.sql

    def test_json_transform_maps_to_from_json(self):
        r = rewrite_statement(
            """SELECT json_transform(j, '{"a":"VARCHAR"}') FROM t"""
        )
        assert "from_json(j, 'STRUCT<`a`: STRING>')" in r.sql


class TestBatch18Lists:
    """r11 batch-18: list/map tail (22-form probe; map_keys/values,
    cardinality, map_entries, element_at, struct_extract, flatten,
    list_has_all, string_split_regex already matched; map value reprs
    and arrays_zip field names are documented divergences)."""

    def test_aliases(self):
        r = rewrite_statement(
            "SELECT array_zip(a, b), list_pack(1,2), array_cat(x, y)"
            " FROM t"
        )
        assert "arrays_zip(a, b)" in r.sql
        assert "array(1,2)" in r.sql
        assert "concat(x /*ARR*/, y)" in r.sql  # marked: skips the varchar NULL-skip pass

    def test_list_resize(self):
        r = rewrite_statement("SELECT list_resize(l, 4, 9) FROM t")
        assert "slice(l, 1, 4)" in r.sql and "sequence(1, (4) - size(l))" in r.sql
        # 2-arg pads with a TYPED null (never-taken CASE branch)
        r2 = rewrite_statement("SELECT list_resize(l, 4) FROM t")
        assert "CASE WHEN false THEN try_element_at(l, 1) END" in r2.sql

    def test_pop_front_back(self):
        r = rewrite_statement(
            "SELECT array_pop_front(l), list_pop_back(l) FROM t"
        )
        assert "slice(l, 2, greatest(size(l) - 1, 0))" in r.sql
        assert "slice(l, 1, greatest(size(l) - 1, 0))" in r.sql

    def test_list_any_value(self):
        r = rewrite_statement("SELECT list_any_value(l) FROM t")
        assert "try_element_at(array_compact(l), 1)" in r.sql

    def test_len_polymorphic_heuristic(self):
        # array-producing heads → size(); everything else → length()
        r = rewrite_statement("SELECT len([1,2,3]), len(s) FROM t")
        assert "size(array(1,2,3))" in r.sql
        assert "length(s)" in r.sql
        r2 = rewrite_statement("SELECT len(split(s, ',')) FROM t")
        assert "size(split(s, ','))" in r2.sql


class TestConcatNullSkip:
    """r11 batch-19: DuckDB concat() is varchar-only and SKIPS NULL
    arguments; Spark's NULL-propagates (and doubles as array concat) —
    silent wrong answer (differential-verified, 12-case probe)."""

    def test_varchar_concat_becomes_concat_ws(self):
        r = rewrite_statement("SELECT concat(a, NULL, b) FROM t")
        assert "concat_ws('', CAST(a AS STRING), CAST(NULL AS STRING), " in r.sql

    def test_array_concat_functions_stay_arrays(self):
        r = rewrite_statement("SELECT list_concat(l, m) FROM t")
        assert "concat(l /*ARR*/, m)" in r.sql
        # and the marked call is NOT re-written to concat_ws
        assert "concat_ws" not in r.sql

    def test_array_producing_args_stay_native(self):
        r = rewrite_statement("SELECT concat(split(s, ','), l) FROM t")
        assert "concat_ws" not in r.sql

    def test_try_strptime(self):
        r = rewrite_statement("SELECT try_strptime(s, '%Y-%m-%d') FROM t")
        assert "try_to_timestamp(s, 'yyyy-M-d')" in r.sql


class TestBatch20Statements:
    """r11 batch-20: statement edges (20-form probe; ORDER BY ALL
    DESC, GROUPING SETS, ILIKE, LIKE ESCAPE, ucase/lcase, prefix/
    suffix already matched)."""

    def test_group_by_empty_is_grand_total(self):
        r = rewrite_statement("SELECT count(*) FROM t GROUP BY ()")
        assert "GROUP BY" not in r.sql.upper()

    def test_boolean_typed_literal(self):
        r = rewrite_statement("SELECT BOOLEAN '1', BOOLEAN 'false'")
        assert "CAST('1' AS BOOLEAN)" in r.sql
        assert "CAST('false' AS BOOLEAN)" in r.sql

    def test_limit_percent_named_error(self):
        import pytest as _p

        with _p.raises(ValueError, match="LIMIT n%"):
            rewrite_statement("SELECT i FROM t LIMIT 50%")

    def test_str_split_regex_alias(self):
        r = rewrite_statement("SELECT str_split_regex(s, '[0-9]') FROM t")
        assert "split(s, '[0-9]')" in r.sql

    def test_any_value_order_by_skips_nulls(self):
        r = rewrite_statement(
            "SELECT any_value(s ORDER BY k DESC) FROM t"
        )
        # first NON-NULL in order: NULL values NULL the ordering key
        # so max_by skips them
        assert "max_by(s, CASE WHEN (s) IS NOT NULL THEN k END)" in r.sql


class TestBatch21Regex:
    """r11 batch-21: regex/pattern tail (22-form probe; bitwise
    <</>>/&/|, xor(), ~, bin, hex/unhex, factorial, sha2 family,
    to_hex(-1) already matched)."""

    def test_regexp_full_match_anchors(self):
        r = rewrite_statement("SELECT regexp_full_match(s, p) FROM t")
        assert "RLIKE ('^(?:' || (p) || ')$')" in r.sql

    def test_glob_literal_translation(self):
        r = rewrite_statement("SELECT s GLOB 'a*.[ch]?' FROM t")
        # the end-of-rewrite literal pass doubles the backslash for
        # Spark's escaped-string parser (literal regex '\.')
        assert r.sql == r"SELECT s RLIKE '^a.*\\.[ch].$' FROM t"

    def test_like_escape_family(self):
        r = rewrite_statement("SELECT like_escape(s, p, '$') FROM t")
        assert "(s LIKE p ESCAPE '$')" in r.sql
        r2 = rewrite_statement("SELECT ilike_escape(s, p, '$') FROM t")
        assert "(lower(s) LIKE lower(p) ESCAPE '$')" in r2.sql
        r3 = rewrite_statement(
            "SELECT not_like_escape(s, p, '$') FROM t"
        )
        assert "NOT LIKE" in r3.sql

    def test_grapheme_and_gcd_aliases(self):
        r = rewrite_statement(
            "SELECT right_grapheme(s, 2), least_common_multiple(a, b),"
            " greatest_common_divisor(a, b) FROM t"
        )
        assert "lcm(a, b)" in r.sql and "gcd(a, b)" in r.sql


class TestBatch22Sweep:
    """r11 batch-22 differential fixes (212-case probe, 38 findings):
    log() base, regexp_replace first-only default, rounding integer
    casts, date_part scalar fields, NULL-parity list functions, and
    the compat-UDF tail (bar, length_grapheme, duckdb_typename)."""

    def test_log_one_arg_is_log10(self):
        r = rewrite_statement("SELECT log(100), log(2, 8) FROM t")
        assert "log10(100)" in r.sql
        assert "log(2, 8)" in r.sql  # 2-arg log agrees across engines

    def test_regexp_replace_first_only_default(self):
        r = rewrite_statement("SELECT regexp_replace(s, 'a', 'b') FROM t")
        assert "named_struct('s', s, 'p', 'a', 'r', 'b')" in r.sql
        assert "regexp_instr(__rr.s, __rr.p)" in r.sql
        assert "regexp_extract(__rr.s, __rr.p, 0)" in r.sql

    def test_regexp_replace_gflag_replaces_all(self):
        r = rewrite_statement(
            "SELECT regexp_replace(s, 'a', 'b', 'g') FROM t"
        )
        assert r.sql == "SELECT regexp_replace(s, 'a', 'b') FROM t"

    def test_regexp_replace_iflag_embeds(self):
        r = rewrite_statement(
            "SELECT regexp_replace(s, 'a', 'b', 'gi') FROM t"
        )
        assert "concat('(?i)', 'a')" in r.sql

    def test_int_cast_rounds_via_decimal(self):
        r = rewrite_statement("SELECT CAST(x AS INT) FROM t")
        assert "CAST(CAST((x) AS DECIMAL(38,0)) AS INT)" in r.sql
        r2 = rewrite_statement("SELECT TRY_CAST(x AS BIGINT) FROM t")
        assert (
            "TRY_CAST(TRY_CAST((x) AS DECIMAL(38,0)) AS BIGINT)" in r2.sql
        )

    def test_int_cast_skips_integral_heads(self):
        r = rewrite_statement(
            "SELECT CAST(round(x * 1e6) AS BIGINT) FROM t"
        )
        assert "DECIMAL(38,0)" not in r.sql
        r2 = rewrite_statement("SELECT CAST(42 AS INT) FROM t")
        assert "DECIMAL(38,0)" not in r2.sql

    def test_date_part_scalar_fields(self):
        r = rewrite_statement("SELECT date_part('dow', d) FROM t")
        assert "(dayofweek(d) - 1)" in r.sql
        r2 = rewrite_statement("SELECT date_part('isodow', d) FROM t")
        assert "(weekday(d) + 1)" in r2.sql
        r3 = rewrite_statement("SELECT date_part('epoch', ts) FROM t")
        assert "unix_micros(CAST(ts AS TIMESTAMP)) / 1000000.0" in r3.sql
        r4 = rewrite_statement(
            "SELECT date_part('microseconds', ts) FROM t"
        )
        assert "pmod(unix_micros(CAST(ts AS TIMESTAMP)), 60000000)" in r4.sql
        r5 = rewrite_statement("SELECT date_part('century', d) FROM t")
        assert "(((year(d) - 1) DIV 100) + 1)" in r5.sql

    def test_extract_extended_fields(self):
        r = rewrite_statement("SELECT extract(decade FROM d) FROM t")
        assert "(year(d) DIV 10)" in r.sql
        r2 = rewrite_statement(
            "SELECT extract(milliseconds FROM ts) FROM t"
        )
        assert "DIV 1000" in r2.sql

    def test_list_contains_null_parity(self):
        r = rewrite_statement("SELECT list_contains(l, 2) FROM t")
        assert "exists(l, __lc_e -> __lc_e <=> (2))" in r.sql
        assert "(l) IS NULL OR (2) IS NULL" in r.sql

    def test_list_extract_try_variant(self):
        r = rewrite_statement("SELECT list_extract(l, 9) FROM t")
        assert "try_element_at(l, 9)" in r.sql

    def test_sha256_maps_to_sha2(self):
        r = rewrite_statement("SELECT sha256(s) FROM t")
        assert "sha2(s, 256)" in r.sql

    def test_favg_fsum_double(self):
        r = rewrite_statement("SELECT favg(x), fsum(x) FROM t")
        assert "avg(CAST(x AS DOUBLE))" in r.sql
        assert "sum(CAST(x AS DOUBLE))" in r.sql

    def test_kurtosis_pop_is_spark_kurtosis(self):
        r = rewrite_statement("SELECT kurtosis_pop(x) FROM t")
        assert r.sql == "SELECT kurtosis(x) FROM t"

    def test_timezone_fn(self):
        r = rewrite_statement(
            "SELECT timezone('America/New_York', ts) FROM t"
        )
        assert "to_utc_timestamp(ts, 'America/New_York')" in r.sql

    def test_epoch_ms_integer_literal(self):
        r = rewrite_statement("SELECT epoch_ms(1704067200000) FROM t")
        assert "timestamp_millis(1704067200000)" in r.sql
        r2 = rewrite_statement("SELECT epoch_ms(ts) FROM t")
        assert "unix_millis(CAST((ts) AS TIMESTAMP))" in r2.sql

    def test_hash_maps_to_masked_xxhash64(self):
        r = rewrite_statement("SELECT hash(s) % 10 FROM t")
        assert "xxhash64(s) & 9223372036854775807" in r.sql

    def test_typeof_wraps_compat_udf(self):
        r = rewrite_statement("SELECT typeof(x) FROM t")
        assert "duckdb_typename(typeof(x))" in r.sql

    def test_scalar_range_negative_step(self):
        r = rewrite_statement("SELECT range(5, 1, -2) FROM t")
        assert "filter(sequence(" in r.sql and "array()" in r.sql

    def test_generate_series_mismatch_guard(self):
        r = rewrite_statement("SELECT generate_series(1, 5, -1) FROM t")
        assert "THEN array()" in r.sql

    def test_slice_with_step(self):
        r = rewrite_statement("SELECT l[1:5:2] FROM t")
        assert "transform(sequence(" in r.sql
        # the sequence is bounds-clamped, so element_at never sees an
        # out-of-range index
        assert "element_at(l, __li)" in r.sql

    def test_len_of_regexp_split(self):
        r = rewrite_statement(
            "SELECT len(regexp_split_to_array(s, '[0-9]')) FROM t"
        )
        assert r.sql.startswith("SELECT size(")

    def test_regexp_extract_name_list(self):
        r = rewrite_statement(
            "SELECT regexp_extract(s, p, ['y', 'm']) FROM t"
        )
        assert (
            "named_struct('y', regexp_extract(s, p, 1), "
            "'m', regexp_extract(s, p, 2))" in r.sql
        )

    def test_printf_decimal_literal_arg(self):
        r = rewrite_statement("SELECT printf('%.2f', 1.5) FROM t")
        assert "1.5D" in r.sql

    def test_format_width_specs(self):
        r = rewrite_statement("SELECT format('{:04d}', 42) FROM t")
        assert "format_string('%04d', CAST(42 AS BIGINT))" in r.sql
        r2 = rewrite_statement("SELECT format('{:x}', 255) FROM t")
        assert "'%x'" in r2.sql

    def test_loose_date_literal(self):
        r = rewrite_statement("SELECT '2024/01/02'::DATE FROM t")
        assert "'2024-01-02'" in r.sql


class TestBatch23NullOrdering:
    """r11 batch-23: DuckDB's default null ordering is NULLS LAST in
    BOTH directions; Spark's ascending default is NULLS FIRST — a
    silent row-set change under LIMIT and different ranks in ordered
    windows (differential-verified on VALUES tables)."""

    def test_plain_order_by_gets_nulls_last(self):
        r = rewrite_statement("SELECT a FROM t ORDER BY a LIMIT 5")
        assert "ORDER BY a NULLS LAST LIMIT 5" in r.sql

    def test_desc_untouched(self):
        r = rewrite_statement("SELECT a FROM t ORDER BY a DESC")
        assert r.sql == "SELECT a FROM t ORDER BY a DESC"

    def test_mixed_items(self):
        r = rewrite_statement("SELECT a FROM t ORDER BY a, b DESC, c ASC")
        assert (
            "ORDER BY a NULLS LAST, b DESC, c ASC NULLS LAST" in r.sql
        )

    def test_explicit_nulls_modifier_kept(self):
        r = rewrite_statement("SELECT a FROM t ORDER BY a NULLS FIRST")
        assert r.sql == "SELECT a FROM t ORDER BY a NULLS FIRST"

    def test_window_order_by(self):
        r = rewrite_statement(
            "SELECT rank() OVER (PARTITION BY g ORDER BY x) FROM t"
        )
        assert "ORDER BY x NULLS LAST)" in r.sql

    def test_window_frame_stops_item(self):
        r = rewrite_statement(
            "SELECT sum(v) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING"
            " AND CURRENT ROW) FROM t"
        )
        assert "ORDER BY x NULLS LAST ROWS BETWEEN" in r.sql

    def test_order_by_all(self):
        r = rewrite_statement("SELECT a, b FROM t ORDER BY ALL")
        assert "ORDER BY ALL NULLS LAST" in r.sql

    def test_subquery_and_outer(self):
        r = rewrite_statement(
            "SELECT a FROM (SELECT a FROM t ORDER BY a LIMIT 3) s"
            " ORDER BY a"
        )
        assert r.sql.count("NULLS LAST") == 2

    def test_string_literal_untouched(self):
        r = rewrite_statement(
            "SELECT a FROM t WHERE s = 'ORDER BY x' ORDER BY a"
        )
        assert "'ORDER BY x'" in r.sql
        assert r.sql.rstrip().endswith("ORDER BY a NULLS LAST")


class TestBatch24Quantified:
    """r11 batch-24: statement/clause semantics (61-case probe) —
    quantified ANY/ALL/SOME comparisons, multi-arg grouping(),
    LIMIT NULL, interval-literal dividends."""

    def test_eq_any_is_in(self):
        r = rewrite_statement("SELECT x = ANY (SELECT y FROM s) FROM t")
        assert "x IN (SELECT * FROM (SELECT y FROM s) AS __qv)" in r.sql
        # r12: three-valued membership (Spark IN-subquery FALSE quirk)
        assert "WHERE __qnc IS NULL) THEN NULL" in r.sql

    def test_ne_all_is_not_in(self):
        r = rewrite_statement("SELECT x <> ALL (SELECT y FROM s) FROM t")
        # r12: negated three-valued membership CASE (not bare NOT IN)
        assert (
            "WHEN x IN (SELECT * FROM (SELECT y FROM s) AS __qv) "
            "THEN FALSE" in r.sql
        )
        assert "THEN TRUE" in r.sql

    def test_lt_any_is_lt_max(self):
        r = rewrite_statement("SELECT * FROM t WHERE x < ANY (SELECT y FROM s)")
        assert "x < (SELECT max(__qc) FROM (SELECT y FROM s) AS __q(__qc))" in r.sql

    def test_gt_all_has_empty_guard(self):
        # x > ALL ⟺ x > max(sub); empty subquery coalesces to TRUE
        r = rewrite_statement("SELECT * FROM t WHERE x > ALL (SELECT y FROM s)")
        assert "x > (SELECT max(__qc)" in r.sql
        assert "NOT EXISTS (SELECT 1 FROM (SELECT y FROM s) AS __qe)" in r.sql

    def test_some_is_any(self):
        r = rewrite_statement("SELECT x = SOME (SELECT y FROM s) FROM t")
        assert "x IN (SELECT * FROM (SELECT y FROM s) AS __qv)" in r.sql

    def test_eq_all_left_untouched(self):
        r = rewrite_statement("SELECT x = ALL (SELECT y FROM s) FROM t")
        assert "= ALL" in r.sql  # loud parse error, not silent

    def test_grouping_multi_arg(self):
        r = rewrite_statement(
            "SELECT grouping(g, s) FROM t GROUP BY CUBE (g, s)"
        )
        assert "grouping_id(g, s)" in r.sql
        r2 = rewrite_statement(
            "SELECT grouping(g) FROM t GROUP BY ROLLUP (g)"
        )
        assert "grouping(g)" in r2.sql  # 1-arg form already matches

    def test_limit_null_stripped(self):
        r = rewrite_statement("SELECT x FROM t ORDER BY x LIMIT NULL")
        assert "LIMIT" not in r.sql.upper()

    def test_interval_literal_dividend(self):
        r = rewrite_statement("SELECT INTERVAL 3 HOUR / 2 AS v")
        assert "try_divide(INTERVAL 3 HOUR, 2)" in r.sql


class TestBatch25Formats:
    """r11 batch-25: strftime/strptime code tail, LIKE backslash
    semantics, negative substring lengths (71-case probe, all fixes
    execution-differential-verified against DuckDB)."""

    def test_composite_codes(self):
        r = rewrite_statement("SELECT strftime(ts, '%x %X') FROM t")
        assert "date_format(ts, 'yyyy-MM-dd HH:mm:ss')" in r.sql

    def test_no_pad_dash_codes(self):
        r = rewrite_statement("SELECT strftime(ts, '%-m/%-d/%y') FROM t")
        assert "date_format(ts, 'M/d/yy')" in r.sql

    def test_iso_week_computed(self):
        r = rewrite_statement("SELECT strftime(ts, '%G-W%V-%u') FROM t")
        assert "extract(YEAROFWEEK FROM ts)" in r.sql
        assert "lpad(CAST(weekofyear(ts) AS STRING), 2, '0')" in r.sql
        assert "weekday(ts) + 1" in r.sql

    def test_sunday_monday_weeks_computed(self):
        r = rewrite_statement("SELECT strftime(d, 'wk %U/%W') FROM t")
        assert "dayofyear(d)" in r.sql and "DIV 7" in r.sql

    def test_strptime_day_of_year_parses_loose(self):
        r = rewrite_statement("SELECT strptime('2024 60', '%Y %j')")
        assert "'yyyy D'" in r.sql  # 'D' parses 1-3 digits, DDD needs 3

    def test_strptime_format_list(self):
        r = rewrite_statement(
            "SELECT strptime(s, ['%Y-%m-%d', '%m/%d/%Y']) FROM t"
        )
        assert (
            "coalesce(try_to_timestamp(s, 'yyyy-M-d'), "
            "try_to_timestamp(s, 'M/d/yyyy'))" in r.sql
        )

    def test_like_backslash_stays_literal(self):
        r = rewrite_statement(r"SELECT '50%' LIKE '50\%' AS v")
        # pattern-level doubling + string-parser doubling = 4
        assert r"'50\\\\%'" in r.sql

    def test_like_with_escape_clause_untouched(self):
        r = rewrite_statement(
            r"SELECT '50%' LIKE '50\%' ESCAPE '\' AS v"
        )
        assert r"'50\\%'" in r.sql  # only the string-parser doubling

    def test_substring_negative_length(self):
        r = rewrite_statement("SELECT substring(s, 4, -2) FROM t")
        assert "least(" in r.sql and "greatest(" in r.sql


class TestBatch26AliasAudit:
    """r11 batch-26: systematic duckdb_functions() coverage diff —
    aliases, operator-function forms, and the to_* interval tail
    (execution-differential-verified; 23/26 value-exact, 3 in
    documented type/text classes)."""

    def test_operator_functions(self):
        r = rewrite_statement("SELECT divide(7, 2), multiply(3, 4), add(1, 2), subtract(5, 3)")
        assert "(7) DIV (2)" in r.sql  # divide is the // operator
        assert "(3) * (4)" in r.sql and "(1) + (2)" in r.sql

    def test_count_star(self):
        r = rewrite_statement("SELECT count_star() FROM t")
        assert "count(*)" in r.sql

    def test_sem_is_pop_stddev_over_sqrt_n(self):
        r = rewrite_statement("SELECT sem(x) FROM t")
        assert "(stddev_pop(x) / sqrt(count(x)))" in r.sql

    def test_constant_or_null(self):
        r = rewrite_statement("SELECT constant_or_null(v, x) FROM t")
        assert "CASE WHEN (x) IS NULL THEN NULL ELSE (v) END" in r.sql

    def test_julian_day(self):
        r = rewrite_statement("SELECT julian(d) FROM t")
        assert "86400000000.0D + 2440588.0" in r.sql

    def test_scalar_date_parts(self):
        r = rewrite_statement(
            "SELECT decade(d), millennium(d), era(d), epoch_ns(ts),"
            " microsecond(ts), millisecond(ts) FROM t"
        )
        assert "(year(d) DIV 10)" in r.sql
        assert "unix_micros(ts) * 1000" in r.sql
        assert "pmod(unix_micros(CAST(ts AS TIMESTAMP)), 60000000)" in r.sql

    def test_timezone_parts_are_zero_under_utc(self):
        r = rewrite_statement("SELECT timezone_hour(ts), timezone_minute(ts) FROM t")
        assert r.sql == "SELECT 0, 0 FROM t"

    def test_to_interval_tail(self):
        r = rewrite_statement("SELECT to_weeks(2), to_quarters(q), to_millennia(1) FROM t")
        assert "make_dt_interval((2) * 7, 0, 0, 0)" in r.sql
        assert "make_ym_interval(0, (q) * 3)" in r.sql
        assert "make_ym_interval((1) * 1000, 0)" in r.sql

    def test_date_add_interval_producer(self):
        r = rewrite_statement("SELECT date_add(d, to_quarters(3)) FROM t")
        assert "(d + make_ym_interval(0, (3) * 3))" in r.sql

    def test_array_aliases(self):
        r = rewrite_statement(
            "SELECT array_apply(l, x -> x), array_filter(l, x -> x > 1),"
            " array_indexof(l, 3), array_value(1, 2), list_cat(a, b) FROM t"
        )
        assert "transform(l, x -> x)" in r.sql
        assert "filter(l, x -> x > 1)" in r.sql
        assert "array_position(l, 3)" in r.sql
        assert "array(1, 2)" in r.sql
        assert "concat(a /*ARR*/, b)" in r.sql

    def test_base64_hex_renames(self):
        r = rewrite_statement("SELECT from_base64(s), to_base64(b), from_hex(h) FROM t")
        assert "unbase64(s)" in r.sql and "base64(b)" in r.sql
        assert "unhex(h)" in r.sql

    def test_kahan_aliases_double(self):
        r = rewrite_statement("SELECT kahan_sum(x), sumkahan(x) FROM t")
        assert r.sql.count("sum(CAST(x AS DOUBLE))") == 2

    def test_reservoir_quantile_drops_size(self):
        r = rewrite_statement("SELECT reservoir_quantile(x, 0.5, 100) FROM t")
        assert "percentile_approx(x, 0.5)" in r.sql

    def test_arbitrary_keeps_nulls(self):
        r = rewrite_statement("SELECT arbitrary(x) FROM t")
        assert "first(x)" in r.sql


class TestIntCastSafety:
    """r11 fuzzer findings: the integer-cast rounding skip must only
    fire for PROVABLY integral operands — whole-span calls of
    integral functions, 1-arg round/trunc, or integer literals."""

    def test_two_arg_round_is_wrapped(self):
        r = rewrite_statement("SELECT CAST(round(-0.5, 2) AS INT)")
        assert "DECIMAL(38,0)" in r.sql

    def test_passthrough_head_is_wrapped(self):
        r = rewrite_statement("SELECT CAST(coalesce(a, b) AS INT) FROM t")
        assert "DECIMAL(38,0)" in r.sql

    def test_compound_after_safe_head_is_wrapped(self):
        r = rewrite_statement("SELECT CAST((length(s) / 2) AS INT) FROM t")
        assert "DECIMAL(38,0)" in r.sql

    def test_one_arg_round_stays_bare(self):
        r = rewrite_statement("SELECT CAST(round(x * 1e6) AS BIGINT) FROM t")
        assert "DECIMAL(38,0)" not in r.sql

    def test_floor_stays_bare(self):
        r = rewrite_statement("SELECT CAST(floor(x) AS INT) FROM t")
        assert "DECIMAL(38,0)" not in r.sql


class TestBatch27AggregateFuzz:
    """r11 aggregate-fuzzer findings (tests/dialect_fuzz.py agg mode):
    small-group statistics NULL like DuckDB instead of raising,
    arg_max/min skip NULL args, last() honors NULLS-LAST keys."""

    def test_skew_kurt_small_groups_null(self, spark):
        out = spark.sql(rewrite_statement(
            "SELECT skewness(x) AS s, kurtosis(x) AS k "
            "FROM (VALUES (1.0), (2.0)) t(x)"
        ).sql).collect()[0]
        assert out.s is None and out.k is None

    def test_arg_max_skips_null_args(self, spark):
        out = spark.sql(rewrite_statement(
            "SELECT arg_max(s, i) AS v "
            "FROM (VALUES (4, 'c'), (5, NULL)) t(i, s)"
        ).sql).collect()[0]
        assert out.v == "c"

    def test_max_by_same_semantics(self):
        r = rewrite_statement("SELECT max_by(a, v) FROM t")
        assert "CASE WHEN (a) IS NOT NULL THEN v END" in r.sql

    def test_last_ordered_returns_null_key_row(self, spark):
        out = spark.sql(rewrite_statement(
            "SELECT last(i ORDER BY i) AS v, first(i ORDER BY i) AS f "
            "FROM (VALUES (1), (NULL), (7)) t(i)"
        ).sql).collect()[0]
        assert out.v is None and out.f == 1

    def test_last_without_nulls_unchanged(self, spark):
        out = spark.sql(rewrite_statement(
            "SELECT last(i ORDER BY i) AS v FROM (VALUES (1), (7)) t(i)"
        ).sql).collect()[0]
        assert out.v == 7


class TestDateTruncType:
    """r11 date fuzzer: DuckDB's date_trunc returns DATE for
    day-or-coarser parts (Spark always returns TIMESTAMP)."""

    def test_coarse_parts_cast_to_date(self):
        r = rewrite_statement("SELECT date_trunc('week', ts) FROM t")
        assert "CAST(date_trunc('week', ts) AS DATE)" in r.sql

    def test_fine_parts_untouched(self):
        r = rewrite_statement("SELECT date_trunc('hour', ts) FROM t")
        assert r.sql == "SELECT date_trunc('hour', ts) FROM t"

    def test_non_literal_part_untouched(self):
        r = rewrite_statement("SELECT date_trunc(p, ts) FROM t")
        assert "CAST" not in r.sql


class TestListAggregateTail:
    """r11: list_aggregate reducer tail (median/product/first/last/
    string_agg/stddev) — all differential-verified against DuckDB."""

    def test_median_interpolates(self, spark):
        r = rewrite_statement("SELECT list_aggregate([1,2,3,10], 'median') AS v")
        assert spark.sql(r.sql).collect()[0].v == 2.5

    def test_median_skips_nulls(self, spark):
        r = rewrite_statement("SELECT list_aggregate([1,NULL,3], 'median') AS v")
        assert spark.sql(r.sql).collect()[0].v == 2.0

    def test_first_last_keep_null_ends(self, spark):
        r = rewrite_statement(
            "SELECT list_aggregate([NULL,2], 'first') AS a,"
            " list_aggregate([2,NULL], 'last') AS b"
        )
        row = spark.sql(r.sql).collect()[0]
        assert row.a is None and row.b is None

    def test_string_agg_skips_nulls(self, spark):
        r = rewrite_statement(
            "SELECT list_aggregate(['a',NULL,'b'], 'string_agg') AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == "a,b"

    def test_stddev_sample(self, spark):
        r = rewrite_statement(
            "SELECT round(list_aggregate([1,2,3,10], 'stddev'), 6) AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == 4.082483


class TestBatch28AdviceFixes:
    """r12 advisor fixes (each verified live against DuckDB):
    quantified ALL three-valued NULL semantics, duckdb_typename
    DECIMAL(p,s) commas inside struct/map fields, LIKE…ESCAPE
    no-space lookahead, array_contains alias NULL parity."""

    def test_all_null_element_yields_null(self, spark):
        # DuckDB: 1 < ALL (2, NULL) is NULL, not TRUE — the old
        # min/max coalesce lowering silently kept the row.
        r = rewrite_statement("SELECT 1 < ALL (VALUES (2),(NULL)) AS r")
        assert "WHERE __qnc IS NULL) THEN NULL" in r.sql
        assert "ELSE TRUE END" in r.sql
        assert spark.sql(r.sql).collect()[0].r is None

    def test_all_definite_false_beats_null(self, spark):
        r = rewrite_statement("SELECT 5 < ALL (VALUES (2),(NULL)) AS r")
        assert spark.sql(r.sql).collect()[0].r is False

    def test_all_null_left_yields_null(self, spark):
        r = rewrite_statement("SELECT NULL < ALL (VALUES (2),(3)) AS r")
        assert spark.sql(r.sql).collect()[0].r is None

    def test_all_empty_still_true(self, spark):
        r = rewrite_statement(
            "SELECT 1 < ALL (SELECT * FROM (VALUES (2)) t(v)"
            " WHERE v > 10) AS r"
        )
        assert spark.sql(r.sql).collect()[0].r is True

    def test_like_escape_no_space_detected(self):
        # `'50\%'ESCAPE` (no space) must still see the ESCAPE clause —
        # the lookahead previously skipped the first post-literal char.
        r = rewrite_statement(r"SELECT '50%' LIKE '50\%'ESCAPE '\' AS v")
        assert r"'50\\%'" in r.sql  # only the string-parser doubling

    def test_array_contains_alias_null_parity(self):
        r = rewrite_statement("SELECT array_contains(l, 2) FROM t")
        assert "exists(l, __lc_e -> __lc_e <=> (2))" in r.sql
        assert "(l) IS NULL OR (2) IS NULL" in r.sql

    def test_array_contains_untyped_null_needle(self, spark):
        # array_contains(…, NULL) fails Spark analysis; the exists
        # lowering coerces the untyped NULL and returns NULL like
        # DuckDB.
        r = rewrite_statement("SELECT array_contains(array(1,2), NULL) AS v")
        assert spark.sql(r.sql).collect()[0].v is None

    def test_typename_decimal_inside_struct_and_map(self):
        from shaper_spark.udfs import _duckdb_typename
        assert (
            _duckdb_typename("struct<a:decimal(10,2),b:int>")
            == "STRUCT(a DECIMAL(10,2), b INTEGER)"
        )
        assert (
            _duckdb_typename("map<string,decimal(12,3)>")
            == "MAP(VARCHAR, DECIMAL(12,3))"
        )


class TestAgeAndStructInsert:
    """r12: age() via the duckdb_age compat UDF (400-pair random
    differential vs DuckDB clean) and struct_insert via struct-star /
    named_struct merge."""

    def test_age_two_arg_lowering(self):
        r = rewrite_statement("SELECT age(a, b) FROM t")
        assert (
            "duckdb_age(CAST(a AS TIMESTAMP), CAST(b AS TIMESTAMP))"
            in r.sql
        )

    def test_age_one_arg_uses_now(self):
        r = rewrite_statement("SELECT age(ts) FROM t")
        assert "duckdb_age(CAST(now() AS TIMESTAMP)" in r.sql

    def test_age_values(self, spark):
        r = rewrite_statement(
            "SELECT age(TIMESTAMP '2024-03-15 10:30:00',"
            " TIMESTAMP '2022-01-20 08:00:00') AS a,"
            " age(TIMESTAMP '2022-01-20', TIMESTAMP '2024-03-15') AS b,"
            " age(TIMESTAMP '2024-03-30', TIMESTAMP '2024-01-31') AS c,"
            " age(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-01') AS d,"
            " age(TIMESTAMP '2024-01-01 05:00:00',"
            " TIMESTAMP '2024-01-01 02:30:15.5') AS e"
        )
        row = spark.sql(r.sql).collect()[0]
        assert row.a == "2 years 1 month 26 days 02:30:00"
        assert row.b == "-2 years -1 month -26 days"
        assert row.c == "1 month 30 days"
        assert row.d == "00:00:00"
        assert row.e == "02:29:44.5"

    def test_struct_insert_column_base(self, spark):
        r = rewrite_statement(
            "SELECT struct_insert(s, c := s.a + 1) AS r"
            " FROM (SELECT {'a': 1, 'b': 2} AS s)"
        )
        assert "struct(s.*, s.a + 1 AS `c`)" in r.sql
        assert spark.sql(r.sql).collect()[0].r.asDict() == {
            "a": 1, "b": 2, "c": 2,
        }

    def test_struct_insert_literal_base(self, spark):
        r = rewrite_statement(
            "SELECT struct_insert({'a': 1}, b := 'x') AS r"
        )
        assert "named_struct('a', 1, 'b', 'x')" in r.sql
        assert spark.sql(r.sql).collect()[0].r.asDict() == {
            "a": 1, "b": "x",
        }


class TestTemporalFuzzFinds:
    """r12: the temporal fuzzer mode's real-bug pins (each verified
    against DuckDB; the mode runs ~400 temporal cases per 2k-case
    sweep, clean after these fixes)."""

    def test_time_bucket_pre_origin_floors(self, spark):
        # DIV truncated toward zero: 1969-07-20 20:17:40 bucketed to
        # 20:20 instead of flooring to 20:15 (origin 2000-01-03)
        r = rewrite_statement(
            "SELECT CAST(time_bucket(INTERVAL 5 MINUTE,"
            " TIMESTAMP '1969-07-20 20:17:40') AS VARCHAR) AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == "1969-07-20 20:15:00"

    def test_epoch_keeps_fraction(self, spark):
        r = rewrite_statement(
            "SELECT epoch(TIMESTAMP '2024-12-31 12:00:00.25') AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == 1735646400.25

    def test_date_part_second_is_whole(self, spark):
        r = rewrite_statement(
            "SELECT date_part('second',"
            " TIMESTAMP '2024-02-29 23:59:59.999999') AS s1,"
            " extract(second FROM"
            " TIMESTAMP '2024-02-29 23:59:59.999999') AS s2"
        )
        row = spark.sql(r.sql).collect()[0]
        assert row.s1 == 59 and row.s2 == 59

    def test_date_part_singular_subsecond(self, spark):
        r = rewrite_statement(
            "SELECT date_part('microsecond',"
            " TIMESTAMP '2024-03-05 07:08:09') AS us,"
            " date_part('millisecond',"
            " TIMESTAMP '2024-03-05 07:08:09.25') AS ms"
        )
        row = spark.sql(r.sql).collect()[0]
        assert row.us == 9000000 and row.ms == 9250

    def test_interval_quarter_to_months(self, spark):
        r = rewrite_statement(
            "SELECT CAST((TIMESTAMP '2024-12-31 12:00:00'"
            " + INTERVAL 7 QUARTER) AS VARCHAR) AS v"
        )
        assert "INTERVAL 21 MONTH" in r.sql
        assert spark.sql(r.sql).collect()[0].v == "2026-09-30 12:00:00"

    def test_date_diff_subsecond_units(self, spark):
        r = rewrite_statement(
            "SELECT date_diff('millisecond', TIMESTAMP '2024-01-01',"
            " TIMESTAMP '2024-01-01 00:00:01.5') AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == 1500

    def test_epoch_ms_of_date_typed_expr(self, spark):
        # date_trunc('month', …) returns DATE (r11); epoch_ms must
        # CAST before unix_millis
        r = rewrite_statement(
            "SELECT epoch_ms(date_trunc('month',"
            " TIMESTAMP '2024-03-05 07:08:09')) AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == 1709251200000

    def test_strptime_unpadded_day(self, spark):
        r = rewrite_statement(
            "SELECT CAST(strptime('Mar 5 2024', '%b %d %Y')"
            " AS VARCHAR) AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == "2024-03-05 00:00:00"

    def test_strptime_weekday_via_python_udf(self, spark):
        r = rewrite_statement(
            "SELECT strftime(strptime('Tue, 05 Mar 2024',"
            " '%a, %d %b %Y'), '%a, %d %b %Y') AS v"
        )
        assert "duckdb_strptime(" in r.sql
        assert spark.sql(r.sql).collect()[0].v == "Tue, 05 Mar 2024"

    def test_nested_format_directions_independent(self, spark):
        # outer strftime format stays padded, inner strptime format
        # goes lenient — the whole-span conversion got this wrong
        r = rewrite_statement(
            "SELECT strftime(strptime('5 March 2024', '%d %B %Y'),"
            " '%d %B %Y') AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == "05 March 2024"


class TestDateDiffSubDayEpochDiv:
    """r12 fuzz (seed 99): DuckDB 1.0 computes sub-day date_diff as
    epoch-microsecond integer division with trunc-toward-zero — for
    PRE-EPOCH operands that buckets toward zero, not down.  The
    lowering replays the same arithmetic (Spark DIV truncates
    identically)."""

    def test_subday_uses_epoch_division(self):
        r = rewrite_statement("SELECT date_diff('hour', a, b) FROM t")
        assert "DIV 3600000000" in r.sql and "unix_micros" in r.sql

    def test_pre_epoch_hour_matches_duck_trunc(self, spark):
        # duck: 1 (trunc-toward-zero artifact), NOT the boundary count 0
        r = rewrite_statement(
            "SELECT date_diff('hour', TIMESTAMP '1969-07-20 23:00:00',"
            " TIMESTAMP '1969-07-20 23:59:00') AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == 1

    def test_epoch_crossing_minute_is_zero(self, spark):
        r = rewrite_statement(
            "SELECT date_diff('minute',"
            " TIMESTAMP '1969-12-31 23:59:30',"
            " TIMESTAMP '1970-01-01 00:00:30') AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == 0

    def test_post_epoch_hour_boundary(self, spark):
        r = rewrite_statement(
            "SELECT date_diff('hour', TIMESTAMP '2024-01-01 10:59:59',"
            " TIMESTAMP '2024-01-01 11:00:00') AS v"
        )
        assert spark.sql(r.sql).collect()[0].v == 1

    def test_day_keeps_calendar_lowering(self):
        r = rewrite_statement("SELECT date_diff('day', a, b) FROM t")
        assert "timestampdiff(DAY" in r.sql


class TestQuantifiedFuzzFinds:
    """r12 quantified-comparison fuzz arm finds (verified vs DuckDB):
    arithmetic left operands and Spark's IN-subquery NULL quirk."""

    def test_unary_minus_left_operand(self, spark):
        r = rewrite_statement("SELECT (-5 <= ALL (VALUES (42), (42))) AS v")
        assert spark.sql(r.sql).collect()[0].v is True

    def test_binary_arith_left_operand(self, spark):
        r = rewrite_statement(
            "SELECT x FROM (VALUES (1),(7)) t(x) "
            "WHERE x - 5 <= ALL (VALUES (0), (2))"
        )
        assert [row.x for row in spark.sql(r.sql).collect()] == [1]

    def test_eq_any_null_element_yields_null(self, spark):
        r = rewrite_statement(
            "SELECT (100 = ANY (VALUES (-5), (1), (NULL))) AS v"
        )
        assert spark.sql(r.sql).collect()[0].v is None

    def test_ne_all_null_semantics(self, spark):
        r = rewrite_statement(
            "SELECT (100 <> ALL (VALUES (-5), (NULL))) AS a,"
            " (2 <> ALL (VALUES (2), (NULL))) AS b,"
            " (1 <> ALL (VALUES (2), (3))) AS c"
        )
        row = spark.sql(r.sql).collect()[0]
        assert row.a is None and row.b is False and row.c is True

    def test_concat_left_operand(self, spark):
        """r12 ADVICE find: `a || b = ANY (sub)` must pull the FULL
        concat chain into the membership CASE — the primary-only
        capture left `a || ` outside, concatenating a boolean."""
        r = rewrite_statement(
            "SELECT ('a' || 'b' = ANY (SELECT 'ab')) AS v,"
            " ('a' || 'b' || 'c' <> ALL (SELECT 'x')) AS w,"
            " (NULL || 'b' = ANY (SELECT 'x')) AS n"
        )
        row = spark.sql(r.sql).collect()[0]
        assert row.v is True and row.w is True and row.n is None

    def test_tight_binary_operator_left_operands(self, spark):
        """Every operator tighter than a comparison pulls its left
        operand: shifts, bitwise and/or, int-div `//`, power `**`."""
        r = rewrite_statement(
            "SELECT (1 << 2 = ANY (SELECT 4)) AS a,"
            " (5 & 3 = ANY (SELECT 1)) AS b,"
            " (5 | 2 = ANY (SELECT 7)) AS c,"
            " (4 // 2 = ANY (SELECT 2)) AS d,"
            " (2 ** 3 = ANY (SELECT 8)) AS e"
        )
        row = spark.sql(r.sql).collect()[0]
        assert (row.a, row.b, row.c, row.d, row.e) == (True,) * 5

    def test_string_literal_subquery_head_parses(self, spark):
        """Spark mis-parses `IN (SELECT 'str')` as a typed literal;
        the membership CASE wraps the subquery in SELECT * FROM (…)
        so a string-literal head stays a query."""
        r = rewrite_statement(
            "SELECT ('q' = ANY (SELECT 'q' UNION ALL SELECT NULL)) AS a,"
            " ('z' = ANY (SELECT 'q' UNION ALL SELECT NULL)) AS b"
        )
        row = spark.sql(r.sql).collect()[0]
        assert row.a is True and row.b is None


class TestJsonFuzzFinds:
    """r12 JSON fuzz arm finds (verified vs DuckDB)."""

    def test_collation_names(self, spark):
        """r13 (closes the documented-unsupported collation class):
        Spark 4.1's native ICU collations verified live to match
        DuckDB's icu extension — NOCASE→UNICODE_CI,
        NOACCENT→UNICODE_AI, chains combine, locales pass through."""
        r = rewrite_statement(
            "SELECT ('Ä' = 'ä' COLLATE NOCASE) AS a,"
            " ('ä' = 'a' COLLATE NOACCENT) AS b,"
            " ('Ä' = 'a' COLLATE NOCASE.NOACCENT) AS c"
        )
        row = spark.sql(r.sql).collect()[0]
        assert (row.a, row.b, row.c) == (True, True, True)
        r2 = rewrite_statement(
            "SELECT c FROM (VALUES ('B'), ('a'), ('C')) t(c) "
            "ORDER BY c COLLATE NOCASE"
        )
        assert [x.c for x in spark.sql(r2.sql).collect()] == [
            "a", "B", "C",
        ]
        r3 = rewrite_statement(
            "SELECT c FROM (VALUES ('ä'), ('z'), ('a')) t(c) "
            "ORDER BY c COLLATE de"
        )
        assert [x.c for x in spark.sql(r3.sql).collect()] == [
            "a", "ä", "z",
        ]
        with pytest.raises(ValueError, match="COLLATE NFC"):
            rewrite_statement("SELECT 'a' = 'a' COLLATE NFC")

    def test_bitstring_family(self, spark):
        """r13: BIT emulated as a '0'/'1' string — casts validate with
        DuckDB's exact wording, functions pinned live (bit_count by
        marker stays polymorphic with integer popcount)."""
        r = rewrite_statement(
            "SELECT '0101'::BIT AS a, bit_count('0111'::BIT) AS b,"
            " bit_count(7) AS c, bit_length('0101'::BIT) AS d,"
            " octet_length('01011'::BIT) AS e,"
            " get_bit('0101'::BIT, 1) AS f,"
            " set_bit('0101'::BIT, 0, 1) AS g,"
            " bit_position('010'::BIT, '11010'::BIT) AS h,"
            " bitstring('0101', 8) AS i,"
            " CAST('01' AS BIT) AS j, bit_length('abc') AS k"
        )
        row = spark.sql(r.sql).collect()[0]
        assert (row.a, row.b, row.c, row.d, row.e) == ("0101", 3, 3, 4, 1)
        assert (row.f, row.g, row.h) == (1, "1101", 3)
        assert (row.i, row.j, row.k) == ("00000101", "01", 24)

    def test_bitstring_errors_match_duckdb(self, spark):
        for sql, want in [
            ("SELECT '012'::BIT",
             "Invalid character encountered in string -> bit "
             "conversion: '2'"),
            ("SELECT get_bit('0101'::BIT, 9)",
             "bit index 9 out of valid range (0..3)"),
            ("SELECT set_bit('0101'::BIT, 1, 2)",
             "The new bit must be 1 or 0"),
            ("SELECT bitstring('0101', 3)",
             "Length must be equal or larger than input string"),
        ]:
            with pytest.raises(Exception, match=".*"):
                try:
                    spark.sql(rewrite_statement(sql).sql).collect()
                except Exception as e:
                    assert want in str(e)
                    raise

    def test_postfix_factorial(self, spark):
        """r13: DuckDB postfix `n!` (batch-21 residue). Binding pinned
        live: ! binds LOOSER than arithmetic (`1-3!` = factorial(-2)
        = 1, `2*-3!` = factorial(-6) = 1) and tighter than comparison
        (`5! = 120`); `5!=3` stays the != operator; n < 2 → 1; 21!+
        exceeds BIGINT (DECIMAL(38,0) here, HUGEINT there)."""
        r = rewrite_statement(
            "SELECT 5! AS a, -3! AS b, 1-3! AS c, (2+3)! AS d,"
            " (5! = 120) AS e, (5!=3) AS f, 21! AS g"
        )
        row = spark.sql(r.sql).collect()[0]
        assert (int(row.a), int(row.b), int(row.c), int(row.d)) == (
            120, 1, 1, 120,
        )
        assert row.e is True and row.f is True
        assert int(row.g) == 51090942171709440000

    def test_json_extract_keeps_json_quoting(self, spark):
        """r13 fuzz find: json_extract / -> return JSON (string values
        quoted, objects compact, JSON null → SQL NULL); the _string /
        ->> forms return unquoted text and also resolve bare-key and
        JSON-pointer paths (all pinned vs DuckDB 1.0 live)."""
        r = rewrite_statement(
            """SELECT json_extract('{"c": {"d": "x"}}', '$.c.d') AS a,"""
            """ json_extract('{"c": {"d": "x"}}', '$.c') AS b,"""
            """ json_extract('{"a": null}', 'a') AS c,"""
            """ ('{"a": "x"}' -> 'a') AS d,"""
            """ ('{"a": "x"}' ->> 'a') AS e,"""
            """ json_extract_string('{"a":{"b":1}}', 'a') AS f,"""
            """ json_extract_string('{"a": [1,2]}', '/a/1') AS g,"""
            """ json_extract('{"c.d": 5}', 'c.d') AS h"""
        )
        row = spark.sql(r.sql).collect()[0]
        assert (row.a, row.b, row.c) == ('"x"', '{"d":"x"}', None)
        assert (row.d, row.e) == ('"x"', "x")
        assert (row.f, row.g, row.h) == ('{"b":1}', "2", "5")

    def test_json_type_null_at_path_vs_missing_path(self, spark):
        """r13 fuzz find: a JSON null AT the path types as 'NULL';
        a MISSING path is SQL NULL — get_json_object erases the
        distinction, so the 2-arg form walks the path in Python."""
        r = rewrite_statement(
            """SELECT json_type('{"a": null, "b": "s"}', 'a') AS a,"""
            """ json_type('{"a": null}', 'zz') AS b,"""
            """ json_type('{"a": {"b": null}}', '$.a.b') AS c,"""
            """ json_type('[1, null]', '$[1]') AS d,"""
            """ json_type('[1, null]', '$[9]') AS e,"""
            """ json_type('{"a": -3}', 'a') AS f"""
        )
        row = spark.sql(r.sql).collect()[0]
        assert (row.a, row.b, row.c) == ("NULL", None, "NULL")
        assert (row.d, row.e, row.f) == ("NULL", None, "BIGINT")

    def test_json_array_length_nonarray_is_zero(self, spark):
        r = rewrite_statement(
            "SELECT json_array_length('{}') AS a,"
            " json_array_length('3.5') AS b,"
            " json_array_length('[1,2,3]') AS c,"
            " json_array_length(NULL) AS d,"
            ''' json_array_length('{"b": "s"}', 'b') AS e,'''
            ''' json_array_length('{"b": [1,2]}', 'b') AS f,'''
            ''' json_array_length('{"b": 1}', 'zz') AS g'''
        )
        row = spark.sql(r.sql).collect()[0]
        assert (row.a, row.b, row.c, row.d) == (0, 0, 3, None)
        assert (row.e, row.f, row.g) == (0, 2, None)

    def test_merge_patch_duck_key_order(self, spark):
        from shaper_spark.udfs import _json_merge_patch

        assert (
            _json_merge_patch('{"a": 1, "b": 2}', '{"a": 9}')
            == '{"b":2,"a":9}'
        )

    def test_merge_patch_nonobject_target_verbatim(self):
        from shaper_spark.udfs import _json_merge_patch

        # non-object top-level target: patch verbatim, nulls kept
        assert (
            _json_merge_patch('"s"', '{"c": {"d": null}}')
            == '{"c":{"d":null}}'
        )
        assert _json_merge_patch("[]", '{"a": null}') == '{"a":null}'
        # real merge still removes nulls at nested levels
        assert (
            _json_merge_patch('{"a": 1}', '{"c": {"d": null, "e": 2}}')
            == '{"a":1,"c":{"e":2}}'
        )

    def test_json_structure_empty_object(self):
        from shaper_spark.udfs import _json_structure

        assert _json_structure("{}") == '"JSON"'
        assert _json_structure('{"a": {}}') == '{"a":"JSON"}'


class TestWindowExclude:
    """r13: window-frame EXCLUDE CURRENT ROW/GROUP/TIES — DuckDB 1.0
    accepts these with an explicit frame (the r12 parity note that it
    rejects them was wrong); the rewriter re-expresses the
    sum/count/avg/min/max subset as windowed arithmetic.  Every pinned
    value below was produced by DuckDB 1.0.0 on the same rows."""

    def _rows(self, spark, sql):
        from shaper_spark.rewrite import rewrite_statement

        return [tuple(r) for r in spark.sql(rewrite_statement(sql).sql).collect()]

    def test_sum_exclude_current_row_rows_frame(self, spark):
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s "
            "FROM VALUES (1),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, 2), (2, 4), (3, 2)]

    def test_sum_exclude_group_range_frame(self, spark):
        # DuckDB: [(1,4),(2,4),(2,4),(3,4)]
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE GROUP) AS s "
            "FROM VALUES (1),(2),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, 4), (2, 4), (2, 4), (3, 4)]

    def test_sum_exclude_ties_range_frame(self, spark):
        # DuckDB: [(1,5),(2,6),(2,6),(3,7)]
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE TIES) AS s "
            "FROM VALUES (1),(2),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, 5), (2, 6), (2, 6), (3, 7)]

    def test_min_exclude_current_row_split_frames(self, spark):
        # DuckDB: [(1,2),(2,1),(3,2)]
        got = self._rows(
            spark,
            "SELECT x, min(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s "
            "FROM VALUES (1),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, 2), (2, 1), (3, 2)]

    def test_count_star_exclude_current(self, spark):
        got = self._rows(
            spark,
            "SELECT x, count(*) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s "
            "FROM VALUES (1),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, 1), (2, 2), (3, 1)]

    def test_single_bound_frame_sugar(self, spark):
        # ROWS 2 PRECEDING == BETWEEN 2 PRECEDING AND CURRENT ROW;
        # DuckDB: [(1,None),(2,1),(3,3)]
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER (ORDER BY x ROWS 2 PRECEDING "
            "EXCLUDE CURRENT ROW) AS s "
            "FROM VALUES (1),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, None), (2, 1), (3, 3)]

    def test_frame_without_current_row_is_noop(self, spark):
        # frame 3 PRECEDING..1 PRECEDING never holds the current row —
        # EXCLUDE CURRENT ROW strips to the plain frame
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 3 PRECEDING "
            "AND 1 PRECEDING EXCLUDE CURRENT ROW) AS s "
            "FROM VALUES (1),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, None), (2, 1), (3, 3)]

    def test_sum_null_when_nothing_remains(self, spark):
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN CURRENT ROW "
            "AND CURRENT ROW EXCLUDE CURRENT ROW) AS s "
            "FROM VALUES (1),(2) t(x) ORDER BY x",
        )
        assert got == [(1, None), (2, None)]

    def test_avg_exclude_group_with_nulls(self, spark):
        # peers of x=2 include a NULL y; rem counts non-null only.
        # DuckDB 1.0.0: [(1, 25.0), (2, 15.0), (2, 15.0), (3, 20.0)]
        got = self._rows(
            spark,
            "SELECT x, avg(y) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED "
            "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS s "
            "FROM VALUES (1, 10.0), (2, 30.0), (2, CAST(NULL AS DOUBLE)), "
            "(3, 20.0) t(x, y) ORDER BY x, y",
        )
        assert [(x, float(s)) for x, s in got] == [
            (1, 25.0), (2, 15.0), (2, 15.0), (3, 20.0),
        ]

    def test_exclude_no_others_stripped(self, spark):
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE NO OTHERS) AS s "
            "FROM VALUES (1),(2),(3) t(x) ORDER BY x",
        )
        assert got == [(1, 3), (2, 6), (3, 5)]

    def test_unsupported_combos_raise_named_error(self):
        from shaper_spark.rewrite import rewrite_statement

        for sql in (
            # GROUP under ROWS: peer group can straddle the frame edge
            "SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE GROUP) FROM t",
            # min under RANGE EXCLUDE CURRENT ROW: not decomposable
            "SELECT min(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t",
            # non-decomposable aggregate
            "SELECT string_agg(s, ',') OVER (ORDER BY x ROWS BETWEEN 1 "
            "PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t",
        ):
            with pytest.raises(ValueError, match="EXCLUDE"):
                rewrite_statement(sql)

    def test_named_window_exclude_inlined(self, spark):
        # DuckDB: [(1, 2, 1), (2, 4, 2), (3, 2, 1)]
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER w AS s, count(*) OVER w AS c "
            "FROM VALUES (1),(2),(3) t(x) "
            "WINDOW w AS (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 "
            "FOLLOWING EXCLUDE CURRENT ROW) ORDER BY x",
        )
        assert got == [(1, 2, 1), (2, 4, 2), (3, 2, 1)]

    def test_named_window_mixed_defs_keep_plain_named(self, spark):
        # the EXCLUDE def inlines; the plain def stays a named window
        # (Spark supports WINDOW clauses natively).
        # DuckDB: [(1, 2, 1), (2, 4, 1), (3, 2, 2)]
        got = self._rows(
            spark,
            "SELECT x, sum(x) OVER w AS s, min(x) OVER v AS m "
            "FROM VALUES (1),(2),(3) t(x) "
            "WINDOW w AS (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 "
            "FOLLOWING EXCLUDE CURRENT ROW), "
            "v AS (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) "
            "ORDER BY x",
        )
        assert got == [(1, 2, 1), (2, 4, 1), (3, 2, 2)]

    def test_named_window_duplicate_name_raises(self):
        from shaper_spark.rewrite import rewrite_statement

        with pytest.raises(ValueError, match="more than one WINDOW"):
            rewrite_statement(
                "SELECT (SELECT sum(x) OVER w FROM u WINDOW w AS "
                "(ORDER BY x ROWS 1 PRECEDING EXCLUDE CURRENT ROW)) "
                "FROM t WINDOW w AS (ORDER BY y ROWS 1 PRECEDING "
                "EXCLUDE CURRENT ROW)"
            )


class TestBackquotedIdentifiers:
    """Backquoted identifiers are quoted text to every pass and splitter."""

    def test_splitter_keeps_backquoted_comma(self):
        from shaper_spark.sqltool import _split_top_level_args

        assert _split_top_level_args("`a,b` = 1, c = 2") == [
            "`a,b` = 1",
            "c = 2",
        ]

    def test_quote_inside_backquotes_does_not_open_a_string(self):
        r = rewrite_statement("SELECT 1 AS `it's`, [1, 2] AS l")
        assert r.sql == "SELECT 1 AS `it's`, array(1, 2) AS l"

    def test_subscript_of_backquoted_column(self):
        r = rewrite_statement("SELECT `l`[1] AS x FROM t")
        assert r.sql == "SELECT try_element_at(`l`, 1) AS x FROM t"

    def test_scan_states(self):
        from shaper_spark.sqltool import _scan_states

        assert _scan_states("a `b``c` 'd'") == [0, 0] + [3] * 6 + [0] + [1] * 3


def test_folded_splitter_keeps_empty_and_unbalanced_calls():
    """The passes that used their own splitter leave empty and unclosed
    argument lists alone."""
    for sql in (
        "SELECT map() AS m",
        "SELECT list_aggregate() AS a",
        "SELECT * REPLACE () FROM t",
        "SELECT array_slice() AS s",
        "SELECT trim() AS t",
        "SELECT trim(s, 'ab' FROM t",
        "SELECT * REPLACE (a + 1 AS a FROM t",
    ):
        assert rewrite_statement(sql).sql == sql
    assert rewrite_statement("SELECT btrim(s, 'a,b') FROM t").sql == (
        "SELECT trim('a,b', s) FROM t"
    )


@pytest.mark.parametrize("construct", REWRITTEN_CONSTRUCTS)
@pytest.mark.parametrize("quote", ["'", '"'])
def test_quoted_construct_is_left_alone(construct, quote):
    """Text the rewriter transforms in code position is data inside a
    string literal and a name inside a double-quoted identifier."""
    if quote == "'":
        sql = "SELECT '" + construct.replace("'", "''") + "'"
    else:
        sql = f'SELECT 1 AS "{construct}"'
    assert rewrite_statement(sql).sql == sql


@pytest.mark.parametrize(
    "call",
    [
        r"regexp_replace('banana', '(an)', '<\1>')",
        r"regexp_replace('banana', '(an)', '<\1>', 'g')",
        r"regexp_replace('aaa', 'a*', '-')",
        r"regexp_replace('a$b', 'b', 'c$d')",
        r"regexp_replace('a$b', 'b', 'c$d', 'g')",
        r"regexp_replace('ab', '$', '-')",
        r"regexp_replace('abc', 'b*', '-')",
        r"regexp_replace('abab', '(a)(b)', '\2\1\0')",
        r"regexp_replace('a.b', '\.', '\\')",
    ],
)
def test_regexp_replace_matches_duckdb(spark, call):
    """DuckDB's replacement syntax (``\\1`` groups, a plain ``$``) and its
    first-match rule, on Spark through the rewriter."""
    import duckdb

    want = duckdb.sql(f"SELECT {call}").fetchall()
    got = spark.sql(rewrite_statement(f"SELECT {call}").sql).collect()
    assert [tuple(r) for r in got] == want
