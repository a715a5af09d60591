"""The call-fixer table (``rewrite._CALL_FIXERS``) and its one call walk
(``rewrite._rewrite_calls``), checked from text alone. Nothing here
starts Spark."""

import pytest

from shaper_spark.rewrite import _CALL_FIXERS, _rewrite_calls, rewrite_statement


def _calls(names: str, args: str) -> list[str]:
    return [f"{name}{args}" for name in names.split()]


# one call per table name that its fixer rewrites
SAMPLES = [
    *_calls(
        "entropy histogram product json_group_array any_value geomean "
        "geometric_mean favg fsum kahan_sum sumkahan skewness kurtosis "
        "kurtosis_pop sem hash typeof log trunc even isinf isfinite sha256 "
        "json_quote json_valid boxplot string_agg group_concat array_agg list",
        "(x)",
    ),
    *_calls(
        "dayofweek weekday isodow isoyear century julian era decade "
        "millennium microsecond millisecond dayname monthname yearweek "
        "timezone_hour timezone_minute",
        "(d)",
    ),
    *_calls("epoch epoch_ms epoch_us epoch_ns age", "(ts)"),
    *_calls(
        "to_seconds to_minutes to_hours to_days to_months to_years to_weeks "
        "to_quarters to_decades to_centuries to_millennia to_milliseconds "
        "to_microseconds format_bytes",
        "(n)",
    ),
    *_calls(
        "list_sum list_avg list_grade_up array_grade_up grade_up "
        "list_any_value list_unique array_unique list_reverse_sort "
        "array_reverse_sort array_pop_front list_pop_front array_pop_back "
        "list_pop_back",
        "(l)",
    ),
    *_calls(
        "xor jaccard hamming mismatches divide multiply add subtract "
        "list_where array_where list_select array_select list_has_all "
        "array_has_all array_cosine_similarity list_cosine_similarity "
        "array_inner_product array_dot_product list_inner_product "
        "list_dot_product array_distance list_distance constant_or_null "
        "grouping arg_max argmax max_by arg_min argmin min_by concat "
        "list_concat array_concat array_cat list_cat json_array",
        "(a, b)",
    ),
    *_calls("list_contains list_has array_has array_contains", "(l, 1)"),
    *_calls("list_reduce array_reduce", "(l, (a, b) -> a + b)"),
    *_calls("list_resize array_resize", "(l, 3)"),
    *_calls("list_slice array_slice", "(l, 2, 3)"),
    *_calls("string_split str_split string_to_array", "(s, '.')"),
    *_calls(
        "from_json from_json_strict json_transform json_transform_strict",
        "(j, '{\"a\": \"INTEGER\"}')",
    ),
    *_calls(
        "like_escape ilike_escape not_like_escape not_ilike_escape",
        "(s, 'a$%', '$')",
    ),
    *_calls("ltrim rtrim trim btrim", "(s, 'x')"),
    *_calls(
        "list_aggregate array_aggregate list_aggr array_aggr", "(l, 'sum')"
    ),
    *_calls("date_sub datesub date_diff datediff", "('day', a, b)"),
    *_calls("printf format_string", "('%f', 1.5)"),
    *_calls("regexp_full_match regexp_extract regexp_extract_all", "(s, 'a+')"),
    "regexp_matches(s, 'a', 'i')",
    "regexp_replace(s, 'a', 'b')",
    "json_merge_patch(a, b, c)",
    "json_object('k', v)",
    "json_group_object(k, v)",
    "json_type(j, 'a')",
    "json_array_length(j)",
    "encode(s)",
    "decode(b)",
    "len(s)",
    "bitstring('101', 8)",
    "get_bit(b, 2)",
    "set_bit(b, 2, 1)",
    "bit_position('1', b)",
    "bit_count(b::BIT)",
    "bit_length(b::BIT)",
    "octet_length(b::BIT)",
    "left(s, -2)",
    "right(s, -2)",
    "substring(s, -3, 2)",
    "substr(s, 0, 3)",
    "md5_number_lower(s)",
    "md5_number_upper(s)",
    "list_sort(l, 'DESC')",
    "date_part('dow', d)",
    "map_extract(m, 'k')",
    "range(3)",
    "generate_series(1, 3)",
    "struct_insert(s, b := 2)",
    "struct_pack(a := 1)",
    "struct_extract(s, 'a')",
    "timezone('UTC', ts)",
    "count_star()",
    "date_trunc('month', d)",
    "reservoir_quantile(x, 0.5)",
    "strftime(d, '%V')",
    "strptime(s, array('%Y', '%d'))",
    "time_bucket(INTERVAL 15 MINUTE, ts)",
    "format('{} x', s)",
    "to_base(n, 2)",
    "date_add(d, INTERVAL 1 DAY)",
    "extract(epoch FROM ts)",
]

# The parent rewriter's whole-statement output for calls whose fixer
# output names a table row (kept as written: the walk does not revisit
# it), or that call another row's fixer, or nest table calls.
PINNED = {
    "list_sum(list_concat(a, b))": (
        "SELECT CASE WHEN size(array_compact(concat(a /*ARR*/, b))) > 0 "
        "THEN aggregate(array_compact(concat(a /*ARR*/, b)), CAST(0 AS "
        "DOUBLE), (s, v) -> s + v) END AS v"
    ),
    "concat(list_concat(a, b), c)": (
        "SELECT concat(concat(a /*ARR*/, b), c) AS v"
    ),
    "skewness(x)": (
        "SELECT try_divide(skewness(x) * sqrt(count(x) * (count(x) - 1)), "
        "count(x) - 2) AS v"
    ),
    "kurtosis_pop(x)": "SELECT kurtosis(x) AS v",
    "date_trunc('month', d)": (
        "SELECT CAST(date_trunc('month', d) AS DATE) AS v"
    ),
    "arg_max(a, b)": (
        "SELECT max_by(a, CASE WHEN (a) IS NOT NULL THEN b END) AS v"
    ),
    "typeof(x)": "SELECT duckdb_typename(typeof(x)) AS v",
    "json_array_length(j)": (
        "SELECT (CASE WHEN (j) IS NULL THEN CAST(NULL AS INT) "
        "ELSE coalesce(json_array_length(j), 0) END) AS v"
    ),
    "date_part(['dow', 'year'], d)": (
        "SELECT named_struct('dow', (dayofweek(d) - 1), "
        "'year', date_part('year', d)) AS v"
    ),
    "first(x ORDER BY y)": "SELECT min_by(x, y) AS v",
    "date_diff('month', a, b)": (
        "SELECT timestampdiff(MONTH, date_trunc('month', a), "
        "date_trunc('month', b)) AS v"
    ),
    "trim(trim(s, 'x'), 'y')": "SELECT trim('y', trim('x', s)) AS v",
    "x = ANY(l)": "SELECT array_contains(l, x) AS v",
    "regexp_replace(regexp_replace(s, 'a', 'b', 'g'), 'c', 'd', 'gi')": (
        "SELECT regexp_replace(regexp_replace(s, 'a', 'b'), "
        "concat('(?i)', 'c'), 'd') AS v"
    ),
}


def test_every_name_has_one_sample():
    names = [s[: s.index("(")] for s in SAMPLES]
    assert sorted(names) == sorted(_CALL_FIXERS)


@pytest.mark.parametrize("call", SAMPLES)
def test_sample_is_rewritten(call):
    assert _rewrite_calls(f"SELECT {call} AS v") != f"SELECT {call} AS v"


@pytest.mark.parametrize("quote", ["'", '"', "`"])
@pytest.mark.parametrize("call", SAMPLES)
def test_quoted_call_is_left_alone(call, quote):
    quoted = quote + call.replace(quote, quote * 2) + quote
    sql = f"SELECT {quoted} AS v FROM t"
    assert _rewrite_calls(sql) == sql


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM range(3)",
        "SELECT * FROM range(1, 9, 2) AS r",
        "SELECT * FROM generate_series(1, 3)",
        "SELECT * FROM t JOIN generate_series(1, 3) AS g ON t.a = g.generate_series",
        "select * from t join range(4) on true",
        # `x.name(` is a field or method, not the no-dot functions
        "SELECT t.range(3), t.log(x), t.hash(y) FROM t",
    ],
)
def test_table_position_and_dotted_calls_are_left_alone(sql):
    assert _rewrite_calls(sql) == sql


@pytest.mark.parametrize("call,want", sorted(PINNED.items()))
def test_pinned_output(call, want):
    assert rewrite_statement(f"SELECT {call} AS v").sql == want


@pytest.mark.parametrize(
    "call,part",
    [
        # get_bit's 1-based substring goes through the substring row
        ("get_bit(b, 2)", "substr(b, greatest("),
        # format_bytes's concat is DuckDB's NULL-skipping concat row
        ("format_bytes(n)", "THEN concat_ws('', CAST(CAST(CAST("),
    ],
)
def test_fixer_calls_the_row_its_output_needs(call, part):
    assert part in rewrite_statement(f"SELECT {call} AS v").sql


def test_nested_first_match_regexp_replace_grows_linearly():
    # the first-match form reads its source several times; binding it
    # once keeps each added level of nesting a constant number of chars
    sizes = []
    src = "s"
    for _ in range(10):
        src = f"regexp_replace({src}, 'a', 'b')"
        sizes.append(len(rewrite_statement(f"SELECT {src} AS v").sql))
        # checked per level, so a form that multiplies fails while small
        assert len(sizes) < 3 or sizes[-1] - sizes[-2] == sizes[1] - sizes[0]
    assert sizes[-1] < 5000
