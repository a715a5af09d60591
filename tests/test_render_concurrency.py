"""Concurrent statement scheduling in dashboard renders.

A render prepares its statements in script order and collects the
independent ones on a shared pool. Every script here is rendered twice:
as built, and with nothing prefetchable (the plain one-after-another
loop). Both must give the same ``to_dict()`` JSON, or raise the same
exception type with the same message.
"""

import csv
import dataclasses
import io
import json
import re
import sys
import threading

import pytest

from shaper_spark import engine
from shaper_spark.engine import query_dashboard
from shaper_spark.exports import format_value, stream_dashboard_export

HOT_ORDERS = """
SELECT 'Orders by priority'::SECTION;
SELECT DISTINCT o_orderpriority::DROPDOWN AS prio FROM orders ORDER BY 1;
SELECT 'Revenue by status'::LABEL;
SELECT o_orderstatus::XAXIS, sum(o_totalprice)::BARCHART AS revenue
FROM orders WHERE o_orderpriority = getvariable('prio') GROUP BY ALL ORDER BY ALL;
SELECT date_trunc('month', o_orderdate)::XAXIS, count()::LINECHART AS orders
FROM orders WHERE o_orderpriority = getvariable('prio') GROUP BY ALL ORDER BY ALL;
SELECT c_mktsegment AS segment, count() AS orders, avg(o_totalprice) AS avg_total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = getvariable('prio') GROUP BY ALL ORDER BY ALL;
SELECT count() AS orders FROM orders WHERE o_orderpriority = getvariable('prio');
"""

HOT_EVENTS = """
SELECT 'Sessions per Week'::SECTION;
SELECT DISTINCT event_type::DROPDOWN AS et FROM events ORDER BY 1;
SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY,
       count()::BARCHART_STACKED AS n FROM events GROUP BY ALL ORDER BY ALL;
SELECT 'Daily value'::LABEL;
SELECT date_trunc('day', ts)::XAXIS, sum(value)::LINECHART AS total
FROM events WHERE event_type = getvariable('et') GROUP BY ALL ORDER BY ALL;
SELECT regexp_extract(props, 'src": "([a-z]+)', 1) AS source, count() AS events,
       count(DISTINCT user_id) AS users FROM events
WHERE event_type = getvariable('et') GROUP BY ALL ORDER BY ALL;
SELECT user_id, count() AS n FROM events WHERE event_type = getvariable('et')
GROUP BY ALL ORDER BY n DESC, user_id LIMIT 10;
"""

HOT_LINEITEM = """
SELECT 'Pricing summary'::SECTION;
SELECT DISTINCT l_returnflag::DROPDOWN AS flag FROM lineitem ORDER BY 1;
SELECT l_linestatus AS status, sum(l_quantity) AS qty, sum(l_extendedprice) AS base,
       avg(l_discount) AS avg_disc, count() AS lines
FROM lineitem WHERE l_returnflag = getvariable('flag') GROUP BY ALL ORDER BY ALL;
SELECT 'Shipments per quarter'::LABEL;
SELECT date_trunc('quarter', l_shipdate)::XAXIS, count()::BARCHART AS lines
FROM lineitem WHERE l_returnflag = getvariable('flag') GROUP BY ALL ORDER BY ALL;
SELECT n_name AS nation, count() AS customers, sum(c_acctbal) AS balance
FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY ALL ORDER BY ALL;
"""

# A later widget redefines prio after a statement that reads it.
REDEFINE = """
SELECT DISTINCT o_orderpriority::DROPDOWN AS prio FROM orders ORDER BY 1;
SELECT count() AS before FROM orders WHERE o_orderpriority = getvariable('prio');
SELECT '5-LOW'::DROPDOWN AS prio;
SELECT count() AS after FROM orders WHERE o_orderpriority = getvariable('prio');
"""

CASES = {
    "hot_orders": (HOT_ORDERS, {"prio": "3-MEDIUM"}),
    "hot_events": (HOT_EVENTS, {"et": "purchase"}),
    "hot_lineitem": (HOT_LINEITEM, {}),
    "dropdown_chain": (
        """
        SELECT DISTINCT o_orderpriority::DROPDOWN AS prio FROM orders ORDER BY 1;
        SELECT DISTINCT o_orderstatus::DROPDOWN AS status FROM orders
        WHERE o_orderpriority = getvariable('prio') ORDER BY 1;
        SELECT count() AS n FROM orders WHERE o_orderpriority = getvariable('prio')
        AND o_orderstatus = getvariable('status');
        SELECT o_orderstatus, count() AS n FROM orders
        WHERE o_orderpriority = getvariable('prio') GROUP BY ALL ORDER BY ALL;
        """,
        {"prio": "2-HIGH"},
    ),
    "set_variable": (
        """
        SELECT count() AS nations FROM nation;
        SET VARIABLE region = 2;
        SELECT n_name FROM nation WHERE n_regionkey = getvariable('region') ORDER BY 1;
        SELECT count() AS n FROM nation WHERE n_regionkey = getvariable('region');
        SET VARIABLE region = 3;
        SELECT n_name FROM nation WHERE n_regionkey = getvariable('region') ORDER BY 1;
        """,
        {},
    ),
    "temp_view": (
        """
        SELECT 'Views'::SECTION;
        CREATE TEMP VIEW rc_big AS SELECT * FROM orders WHERE o_totalprice > 100000;
        SELECT count() AS n FROM rc_big;
        SELECT o_orderstatus, max(o_totalprice) AS top FROM rc_big
        GROUP BY ALL ORDER BY ALL;
        CREATE OR REPLACE TEMP VIEW rc_big AS
        SELECT * FROM orders WHERE o_totalprice > 200000;
        SELECT count() AS n FROM rc_big;
        """,
        {},
    ),
    "macro": (
        """
        SELECT count() AS nations FROM nation;
        CREATE TEMP MACRO rc_double(x) AS x * 2;
        SELECT rc_double(n_nationkey) AS d FROM nation ORDER BY 1 LIMIT 5;
        SELECT sum(rc_double(n_regionkey)) AS s FROM nation;
        """,
        {},
    ),
    "hidden_section": (
        """
        SELECT 'Visible'::SECTION;
        SELECT count() AS n FROM nation;
        SELECT ''::SECTION WHERE 1 = 0;
        SELECT count() AS hidden FROM orders;
        SELECT max(o_totalprice) AS hidden_too FROM orders;
        SELECT 'Back'::SECTION;
        SELECT count() AS shown FROM customer;
        """,
        {},
    ),
    "failing_analysis": (
        """
        SELECT count() AS n FROM nation;
        SELECT count() AS m FROM orders;
        SELECT no_such_column FROM nation;
        SELECT count() AS c FROM customer;
        SELECT count() AS l FROM lineitem;
        """,
        {},
    ),
    "failing_execution": (
        """
        SELECT count() AS n FROM nation;
        SELECT CAST(n_name AS INT) AS bad FROM nation;
        SELECT count() AS c FROM customer;
        SELECT count() AS l FROM lineitem;
        """,
        {},
    ),
    "download_target": (
        """
        SELECT 'report'::DOWNLOAD_CSV AS file;
        SELECT * FROM rc_no_such_table;
        SELECT count() AS n FROM nation;
        """,
        {},
    ),
    # the download marker comes from a macro body, invisible in the text
    "macro_download_target": (
        """
        CREATE TEMP MACRO rc_report() AS 'report'::DOWNLOAD_CSV;
        SELECT rc_report() AS file;
        SELECT * FROM rc_no_such_table;
        SELECT count() AS n FROM nation;
        """,
        {},
    ),
    "redefine": (REDEFINE, {}),
}


def _outcome(spark, script, params):
    try:
        r = query_dashboard(spark, script, params=params, dashboard_id="rc")
    except Exception as e:
        return ("error", type(e), str(e))
    return ("ok", json.dumps(r.to_dict(), sort_keys=True))


def _sequential(monkeypatch):
    """Test-only patch: no statement is prefetchable, so every one runs
    inline in script order (the loop before scheduling existed)."""
    classify = engine._classify
    monkeypatch.setattr(
        engine,
        "_classify",
        lambda i, sql: dataclasses.replace(classify(i, sql), prefetchable=False),
    )


def _spy(monkeypatch, name):
    """Record the statement text of every call to engine.<name>."""
    calls = []
    fn = getattr(engine, name)

    def wrapper(spark, sql, *args, **kwargs):
        calls.append(sql)
        return fn(spark, sql, *args, **kwargs)

    monkeypatch.setattr(engine, name, wrapper)
    return calls


@pytest.mark.parametrize("case", sorted(CASES))
def test_same_result_as_sequential(spark, monkeypatch, case):
    script, params = CASES[case]
    prefetched = _spy(monkeypatch, "_prefetch")
    prepared = _spy(monkeypatch, "_prepare_query")
    built = _outcome(spark, script, params)
    with monkeypatch.context() as m:
        _sequential(m)
        sequential = _outcome(spark, script, params)
    assert built == sequential
    assert engine.statements_in_flight() == 0
    if case.startswith(("hot_", "failing_")):
        assert len(prefetched) >= 2  # statements really ran ahead
    if case.startswith("failing_"):
        assert built[0] == "error"
    else:
        assert built[0] == "ok"
    if case.endswith("download_target"):
        # the statement after the marker is never prepared, in either mode
        assert not any("rc_no_such_table" in sql for sql in prepared)


def test_snapshot_mismatch_runs_inline(spark, monkeypatch):
    """With the widget stop disabled, the last statement is launched
    while prio still holds the first widget's value. The second widget
    changes prio before assembly, so the launched result is dropped and
    the statement runs inline with the new value."""
    with monkeypatch.context() as m:
        _sequential(m)
        sequential = _outcome(spark, REDEFINE, {})
    monkeypatch.setattr(engine, "_DEFINING_CAST_RE", re.compile(r"(?!)"))
    prefetched = _spy(monkeypatch, "_prefetch")
    inline = _spy(monkeypatch, "_run_query")
    built = _outcome(spark, REDEFINE, {})
    assert built == sequential
    last = REDEFINE.strip().rstrip(";").split(";")[-1].strip()
    assert last in prefetched and last in inline
    tree = json.loads(built[1])
    after = tree["sections"][-1]["queries"][-1]
    assert after["columns"][0]["name"] == "after"


def test_concurrent_renders_share_the_pool(spark):
    """More render threads than cores on the shared pool: every render
    equals its sequential result and the in-flight gauge returns to 0."""
    jobs = [(HOT_ORDERS, {"prio": p}) for p in ("1-URGENT", "5-LOW")] + [
        (HOT_EVENTS, {"et": "click"}),
        (HOT_LINEITEM, {}),
    ]
    want = [_outcome(spark, s, p) for s, p in jobs]
    got: dict[int, tuple] = {}

    def render(k):
        got[k] = _outcome(spark, *jobs[k % len(jobs)])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=render, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert all(got[k] == want[k % len(jobs)] for k in range(8))
    assert engine.statements_in_flight() == 0


# ---------------------------------------------------------------------------
# Widget prediction: a second render launches the statements after a
# widget from the widget's remembered result.
# ---------------------------------------------------------------------------

DATE_AND_INPUT = """
SELECT min(o_orderdate)::DATEPICKER AS since FROM orders;
SELECT 'customer name'::INPUT AS who;
SELECT count() AS n FROM orders WHERE o_orderdate >= getvariable('since');
SELECT count() AS m FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_name LIKE '%' || getvariable('who') || '%'
AND o_orderdate >= getvariable('since');
"""

PREDICTED = {
    "hot_orders": CASES["hot_orders"],
    "hot_events": CASES["hot_events"],
    "hot_lineitem": CASES["hot_lineitem"],
    "dropdown_chain": CASES["dropdown_chain"],
    "date_and_input": (
        DATE_AND_INPUT, {"since": "1995-06-01", "who": "Customer#00000001"}
    ),
    "rejected_param": (HOT_ORDERS, {"prio": "9-REJECTED"}),
}


@pytest.fixture
def widgets(monkeypatch):
    """A fresh, test-local store of widget results."""
    store = engine._WidgetResults()
    monkeypatch.setattr(engine, "_WIDGET_RESULTS", store)
    return store


def _substituted_spy(monkeypatch):
    """Record the variable-substituted text of every prepared statement."""
    texts = []
    fn = engine._prepare_query

    def wrapper(spark, sql, vars_, macros):
        texts.append(vars_.substitute(sql))
        return fn(spark, sql, vars_, macros)

    monkeypatch.setattr(engine, "_prepare_query", wrapper)
    return texts


@pytest.mark.parametrize("case", sorted(PREDICTED))
def test_second_render_predicts_widgets(spark, monkeypatch, widgets, case):
    script, params = PREDICTED[case]
    with monkeypatch.context() as m:
        _sequential(m)
        sequential = _outcome(spark, script, params)
    assert sequential[0] == "ok"
    widgets._entries.clear()
    first = _outcome(spark, script, params)  # remembers the widgets
    assert widgets.predictions == 0
    prefetched = _spy(monkeypatch, "_prefetch")
    events = []
    remember = widgets.remember
    monkeypatch.setattr(
        widgets, "remember",
        lambda *a: (events.append(len(prefetched)), remember(*a)),
    )
    second = _outcome(spark, script, params)
    assert first == second == sequential
    assert widgets.predictions > 0 and widgets.mispredictions == 0
    # one wave: every statement was launched before the first widget
    # was assembled
    statements = [s for s in script.split(";") if s.strip()]
    assert len(prefetched) == len(statements)
    assert events and events[0] == len(statements)
    assert engine.statements_in_flight() == 0


def test_rejected_param_is_never_executed(spark, monkeypatch, widgets):
    """A dropdown param that is not among the widget's rows falls back
    to the first row, in the prediction as in assembly: the rejected
    value never reaches a prepared statement, in either render."""
    params = {"prio": "9-REJECTED"}
    texts = _substituted_spy(monkeypatch)
    _outcome(spark, HOT_ORDERS, params)
    _outcome(spark, HOT_ORDERS, params)
    assert widgets.predictions > 0
    assert texts and not any("9-REJECTED" in t for t in texts)
    assert any("'1-URGENT'" in t for t in texts)


def test_stale_entry_mispredicts_and_runs_inline(spark, monkeypatch, widgets):
    """An entry whose rows no longer match what the widget returns
    predicts a wrong value: the launched statements are dropped at
    assembly and run inline with the real one, same output."""
    with monkeypatch.context() as m:
        _sequential(m)
        sequential = _outcome(spark, HOT_ORDERS, {})
    _outcome(spark, HOT_ORDERS, {})
    (key,) = [k for k in widgets._entries if "DROPDOWN AS prio" in k[1]]
    sess, generation, render_type, columns, rows = widgets._entries[key]
    assert rows[0] == ["1-URGENT"]
    widgets._entries[key] = (
        sess, generation, render_type, columns, [["5-LOW"]]
    )
    inline = _spy(monkeypatch, "_run_query")
    predictions, mispredictions = widgets.predictions, widgets.mispredictions
    built = _outcome(spark, HOT_ORDERS, {})
    assert built == sequential
    # the four statements reading prio were dropped and ran inline; the
    # LABEL launched past the widget reads nothing and stands
    assert widgets.mispredictions - mispredictions == 4
    assert widgets.predictions - predictions == 5
    assert sum("getvariable('prio')" in sql for sql in inline) == 4


def test_entry_of_another_generation_is_not_used(spark, widgets):
    from shaper_spark import plancache

    _outcome(spark, HOT_ORDERS, {})
    plancache.bump()
    _outcome(spark, HOT_ORDERS, {})
    assert widgets.predictions == 0


def test_probe_change_makes_entries_stale(spark, widgets):
    """Table-function statements bypass the plan cache, so in this
    script only the generation read polls the multi-host probes: a
    token that changed on another host still makes the remembered
    widget result stale."""
    from shaper_spark import plancache

    script = """
    SELECT DISTINCT database_name::DROPDOWN AS db FROM duckdb_databases()
    ORDER BY 1;
    SELECT count() AS n FROM duckdb_tables()
    WHERE database_name = getvariable('db');
    """
    token = [0]
    plancache.set_staleness_probe("remote-host", lambda: token[0])
    try:
        assert _outcome(spark, script, {})[0] == "ok"
        _outcome(spark, script, {})
        predictions = widgets.predictions
        assert predictions > 0
        token[0] += 1
        _outcome(spark, script, {})
    finally:
        plancache.remove_probe("remote-host")
    assert widgets.predictions == predictions


def test_protected_variables_keep_entries_apart(spark, monkeypatch, widgets):
    """A widget that reads a protected (JWT) variable is remembered per
    value of it: renders for one tenant never look up, let alone use,
    the other tenant's entry."""
    script = """
    SELECT DISTINCT o_orderpriority::DROPDOWN AS prio FROM orders
    WHERE o_orderstatus = getvariable('tenant') ORDER BY 1;
    SELECT count() AS n FROM orders WHERE o_orderpriority = getvariable('prio')
    AND o_orderstatus = getvariable('tenant');
    SELECT sum(o_totalprice) AS total FROM orders
    WHERE o_orderpriority = getvariable('prio')
    AND o_orderstatus = getvariable('tenant');
    """
    looked_up = []
    predict = widgets.predict

    def spy(spark_, text, *args):
        got = predict(spark_, text, *args)
        looked_up.append((text, got is not None))
        return got

    monkeypatch.setattr(widgets, "predict", spy)

    def render(tenant):
        r = query_dashboard(
            spark, script, params={"prio": "2-HIGH"},
            variables={"tenant": tenant}, dashboard_id="rc",
        )
        return json.dumps(r.to_dict(), sort_keys=True)

    with monkeypatch.context() as m:
        _sequential(m)
        want = {t: render(t) for t in ("F", "O")}
    for tenant, other in (("F", "O"), ("O", "F"), ("F", "O"), ("O", "F")):
        del looked_up[:]
        assert render(tenant) == want[tenant]
        assert looked_up
        assert all(f"('{tenant}')" in text for text, _ in looked_up)
        assert not any(f"('{other}')" in text for text, _ in looked_up)
    assert want["F"] != want["O"]
    assert widgets.predictions > 0 and widgets.mispredictions == 0
    assert len(widgets._entries) == 2


# ---------------------------------------------------------------------------
# Exports replay the statements before their target through the render
# walk, and prepare the target the way a render prepares a statement.
# ---------------------------------------------------------------------------

HIDDEN = """
SELECT 'Hidden'::SECTION WHERE 1 = 0;
SELECT count() AS rc_hidden FROM orders;
SELECT 1 AS input_flag;
SELECT max(o_totalprice) AS rc_hidden_too FROM orders;
SELECT 'Visible'::SECTION;
SELECT count() AS shown FROM nation;
"""


def test_hidden_section_is_never_prepared(spark, monkeypatch, widgets):
    """Statements under an empty section title are never prepared: not
    on a first or a repeated render, and not when an export replays
    them. ``input_flag`` passes the can_start_section text test, so it
    runs, but nothing runs ahead of it."""
    prepared = _spy(monkeypatch, "_prepare_query")
    first = _outcome(spark, HIDDEN, {})
    second = _outcome(spark, HIDDEN, {})
    buf = io.StringIO()
    stream_dashboard_export(spark, HIDDEN, "csv", buf, query_id=5)
    assert first[0] == "ok" and first == second
    assert buf.getvalue() == "shown\n25\n"
    assert any("input_flag" in sql for sql in prepared)
    assert not any("rc_hidden" in sql for sql in prepared)
    assert engine.statements_in_flight() == 0


def _rendered_tables(spark, monkeypatch, script, params):
    """(statement index, Query) of every table the render shows."""
    built = []
    build = engine._build_download_links

    def spy(query, rinfo, dashboard_id, query_index, *args):
        built.append((query_index, query))
        return build(query, rinfo, dashboard_id, query_index, *args)

    with monkeypatch.context() as m:
        m.setattr(engine, "_build_download_links", spy)
        tree = query_dashboard(spark, script, params=params, dashboard_id="rc")
    shown = {
        id(q)
        for s in tree.sections
        for q in s.queries
        if q.render["type"] == "table"
    }
    return [(i, q) for i, q in built if id(q) in shown]


def _same_cell(text, value):
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return float(text) == pytest.approx(value)
    return text == format_value(value)


def test_exports_equal_rendered_tables(spark, monkeypatch):
    """Drift guard: every table a render of these scripts shows exports
    to the same header and rows."""
    checked = []
    for case, (script, params) in sorted(CASES.items()):
        if case.startswith("failing_"):
            continue
        for index, query in _rendered_tables(spark, monkeypatch, script, params):
            buf = io.StringIO()
            stream_dashboard_export(
                spark, script, "csv", buf, query_id=index, params=params
            )
            header, *rows = csv.reader(io.StringIO(buf.getvalue()))
            assert header == [c.name for c in query.columns], case
            assert len(rows) == len(query.rows), case
            for got, want in zip(rows, query.rows):
                assert len(got) == len(want), case
                assert all(map(_same_cell, got, want)), (case, got, want)
            checked.append(case)
    assert {"hot_events", "macro", "set_variable", "temp_view"} <= set(checked)
