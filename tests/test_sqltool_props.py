"""Property-based tests for the SQL tooling layer (hypothesis).

The comment stripper, statement splitter, and escapers sit in front of
every query the engine runs — these properties pin the invariants the
rest of the engine assumes (reference implementations:
server/util/util.go:21-165)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from shaper_spark import sqltool

# Text without quote/comment machinery for clean splitting properties.
plain = st.text(
    alphabet=st.characters(
        blacklist_characters="'\"-;\\`", blacklist_categories=("Cs",)
    ),
    max_size=60,
)


class TestSplitProperties:
    @given(st.lists(plain.map(lambda s: "S" + s), min_size=1, max_size=6))
    @settings(max_examples=200, deadline=None)
    def test_split_recovers_joined_statements(self, parts):
        # non-empty statements round-trip modulo per-statement trim;
        # a trailing empty segment (dangling ';') is dropped
        joined = ";".join(parts)
        out = sqltool.split_sql_queries(joined)
        assert out == [p.strip() for p in parts]

    @given(plain)
    @settings(max_examples=200, deadline=None)
    def test_semicolon_inside_single_quotes_not_split(self, s):
        sql = f"SELECT '{s};{s}' AS v"
        out = sqltool.split_sql_queries(sql)
        assert len(out) == 1

    @given(plain, plain)
    @settings(max_examples=200, deadline=None)
    def test_comment_strip_removes_line_comment(self, a, b):
        sql = f"SELECT 1 --{a}\n, 2 --{b}"
        stripped = sqltool.strip_sql_comments(sql)
        assert "--" not in stripped
        assert stripped.startswith("SELECT 1")

    @given(plain)
    @settings(max_examples=200, deadline=None)
    def test_double_dash_inside_string_preserved(self, s):
        sql = f"SELECT '--{s}' AS v"
        assert sqltool.strip_sql_comments(sql) == sql


# Texts made of quote, paren and separator characters: every quoting
# and nesting rule of the scanner meets every other one.
scanner_text = st.text(alphabet="'\"`();,-\n a", max_size=40)


def _reference_spans(sql: str, comments: bool) -> list[str]:
    """The quoted spans of ``sql``, found by walking it one character at
    a time: a doubled quote char is an escaped one, an unclosed span
    runs to the end, and (with ``comments``) a ``--`` comment outside
    quotes hides what it holds."""
    spans = []
    i, n = 0, len(sql)
    while i < n:
        if comments and sql.startswith("--", i):
            i = sql.find("\n", i)
            if i == -1:
                break
        elif sql[i] in "'\"`":
            j = i + 1
            while j < n:
                if sql[j] != sql[i]:
                    j += 1
                elif sql[j + 1 : j + 2] == sql[i]:
                    j += 2
                else:
                    j += 1
                    break
            spans.append(sql[i:j])
            i = j
            continue
        i += 1
    return spans


def _reference_close(sql: str, pos: int) -> int:
    """The ``)`` closing the ``(`` at ``pos``, or -1, by a walk that
    tracks quotes one character at a time."""
    quote = None
    depth = 0
    i = 0
    while i < len(sql):
        c = sql[i]
        if quote:
            if c == quote:
                if sql[i + 1 : i + 2] == quote:
                    i += 1
                else:
                    quote = None
        elif c in "'\"`":
            quote = c
        elif i >= pos and c in "()":
            depth += 1 if c == "(" else -1
            if depth == 0:
                return i
        i += 1
    return -1


class TestScannerProperties:
    @given(scanner_text)
    @settings(max_examples=500, deadline=None)
    def test_strip_keeps_every_quoted_span_verbatim(self, sql):
        stripped = sqltool.strip_sql_comments(sql)
        assert _reference_spans(stripped, comments=True) == _reference_spans(
            sql, comments=True
        )

    @given(scanner_text)
    @settings(max_examples=500, deadline=None)
    def test_split_never_cuts_inside_a_span(self, sql):
        spans = _reference_spans(sql, comments=False)
        if spans and spans[-1].count(spans[-1][0]) % 2:  # unclosed
            with pytest.raises(sqltool.SqlSplitError):
                sqltool.split_sql_queries(sql)
            return
        pieces = sqltool.split_sql_queries(sql)
        assert [
            span for p in pieces for span in _reference_spans(p, comments=False)
        ] == spans

    @given(scanner_text, st.data())
    @settings(max_examples=500, deadline=None)
    def test_close_paren_matches_reference(self, sql, data):
        opens = [i for i, c in enumerate(sql) if c == "("]
        if not opens:
            return
        pos = data.draw(st.sampled_from(opens))
        states = sqltool._scan_states(sql)
        assert sqltool._find_matching_close(sql, pos, states) == (
            _reference_close(sql, pos)
        )


class TestEscapeProperties:
    @given(st.text(max_size=80))
    @settings(max_examples=300, deadline=None)
    def test_escaped_string_roundtrips_through_spark_literal(self, s):
        # escape_sql_string doubles single quotes — the SQL standard;
        # the literal must contain no unescaped quote boundary.
        esc = sqltool.escape_sql_string(s)
        assert esc.replace("''", "").count("'") == 0

    @given(st.text(max_size=40))
    @settings(max_examples=300, deadline=None)
    def test_escaped_identifier_has_no_bare_quote(self, s):
        esc = sqltool.escape_sql_identifier(s)
        assert esc.replace('""', "").count('"') == 0


class TestGateTotality:
    @given(st.text(max_size=120))
    @settings(max_examples=300, deadline=None)
    def test_gates_never_raise(self, s):
        # The gates guard raw user input — they must classify, not crash.
        sqltool.is_allowed_statement(s)
        sqltool.is_allowed_task_statement(s)
        sqltool.is_side_effect(s)


class TestRewritePassProperties:
    """The r7 rewrite passes (series table functions, EXCLUDE,
    date_diff) must never touch content inside string literals and
    must preserve statements they don't target."""

    @given(plain)
    @settings(max_examples=150, deadline=None)
    def test_series_keywords_inside_literals_untouched(self, s):
        from shaper_spark.rewrite import rewrite_statement

        sql = f"SELECT '{s} FROM generate_series(1, 3) {s}' AS v"
        assert rewrite_statement(sql).sql == sql

    @given(plain)
    @settings(max_examples=150, deadline=None)
    def test_date_diff_inside_literals_untouched(self, s):
        from shaper_spark.rewrite import rewrite_statement

        sql = f"SELECT '{s} date_diff(''day'', a, b)' AS v"
        assert rewrite_statement(sql).sql == sql

    @given(st.integers(min_value=-50, max_value=50),
           st.integers(min_value=-50, max_value=50))
    @settings(max_examples=100, deadline=None)
    def test_series_rewrite_always_parses(self, a, b):
        # whatever integer bounds appear, the rewritten SQL is
        # syntactically valid sequence sugar (no unbalanced parens)
        from shaper_spark.rewrite import rewrite_statement

        out = rewrite_statement(f"FROM generate_series({a}, {b})").sql
        assert out.count("(") == out.count(")")
        assert "generate_series(" not in out.lower().replace(
            "as `generate_series`", ""
        )

    @given(plain)
    @settings(max_examples=100, deadline=None)
    def test_exclude_word_not_followed_by_paren_untouched(self, s):
        from shaper_spark.rewrite import rewrite_statement

        # EXCLUDE as a plain identifier/alias is not the star modifier
        sql = f"SELECT a AS exclude FROM t WHERE b = '{s}'"
        assert rewrite_statement(sql).sql == sql

    @given(st.text(max_size=40))
    @settings(max_examples=150, deadline=None)
    def test_brace_content_inside_literals_value_preserved(self, s):
        # ANY character content inside a string literal survives the
        # rewrite with its VALUE intact (incl. control characters — a
        # regression guard for in-band masking). The only permitted
        # text change is the DuckDB→Spark backslash doubling, which
        # preserves the value under Spark's escape rules.
        from shaper_spark.rewrite import rewrite_statement

        lit = s.replace("'", "''")
        sql = f"SELECT '{{{lit}}}' AS v"
        expected = f"SELECT '{{{lit.replace(chr(92), chr(92) * 2)}}}' AS v"
        assert rewrite_statement(sql).sql == expected
