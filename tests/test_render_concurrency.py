"""Concurrent statement scheduling in dashboard renders.

A render prepares its statements in script order and collects the
independent ones on a shared pool. Every script here is rendered twice:
as built, and with nothing prefetchable (the plain one-after-another
loop). Both must give the same ``to_dict()`` JSON, or raise the same
exception type with the same message.
"""

import dataclasses
import json
import re
import sys
import threading

import pytest

from shaper_spark import engine
from shaper_spark.engine import query_dashboard

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
