"""Dashboards, request generators and DuckDB oracles for the benchmark.

Each dashboard is a DuckDB-dialect script shaped like the reference's
(README quickstart, dropdown / input / datepicker variables, section, label,
charts and tables). Every statement that renders a query carries an oracle:
a plain DuckDB query over the same parquet that yields the rows the server
must send, already in wire form (timestamps and dates as unix milliseconds).
Oracles are ``str.format`` templates over the request's variable values.

All randomness comes from a ``random.Random`` seeded by the workload seed, so
the same seed gives the same requests in the same order.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from dataclasses import dataclass, field

LIVE_TABLE = "live_events"
WARM_TABLE = "warm_events"  # the writer's target during warm-up
LIVE_KINDS = ("alpha", "beta", "gamma", "delta")


@dataclass(frozen=True)
class Dashboard:
    id: str
    # (statement, oracle or None for statements that render no query)
    statements: tuple[tuple[str, str | None], ...]
    # variable name -> list of values; a render picks one value per name
    choices: dict = field(default_factory=dict)

    @property
    def content(self) -> str:
        return ";\n".join(s for s, _ in self.statements) + ";"

    def oracles(self, params: dict) -> list[str]:
        return [o.format(**params) for _, o in self.statements if o]


# -- render_hot: dropdown values from a small set, so plans repeat ----------

HOT = (
    Dashboard(
        "hot_orders",
        (
            ("SELECT 'Orders by priority'::SECTION", None),
            ("SELECT DISTINCT o_orderpriority::DROPDOWN AS prio FROM orders ORDER BY 1",
             "SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1"),
            ("SELECT 'Revenue by status'::LABEL", None),
            ("SELECT o_orderstatus::XAXIS, sum(o_totalprice)::BARCHART AS revenue "
             "FROM orders WHERE o_orderpriority = getvariable('prio') "
             "GROUP BY ALL ORDER BY ALL",
             "SELECT o_orderstatus, sum(o_totalprice) FROM orders "
             "WHERE o_orderpriority = '{prio}' GROUP BY ALL ORDER BY ALL"),
            ("SELECT date_trunc('month', o_orderdate)::XAXIS, count()::LINECHART AS orders "
             "FROM orders WHERE o_orderpriority = getvariable('prio') "
             "GROUP BY ALL ORDER BY ALL",
             "SELECT epoch_ms(date_trunc('month', o_orderdate)) AS m, count() FROM orders "
             "WHERE o_orderpriority = '{prio}' GROUP BY ALL ORDER BY ALL"),
            ("SELECT c_mktsegment AS segment, count() AS orders, "
             "avg(o_totalprice) AS avg_total FROM orders JOIN customer "
             "ON o_custkey = c_custkey WHERE o_orderpriority = getvariable('prio') "
             "GROUP BY ALL ORDER BY ALL",
             "SELECT c_mktsegment, count(), avg(o_totalprice) FROM orders JOIN customer "
             "ON o_custkey = c_custkey WHERE o_orderpriority = '{prio}' "
             "GROUP BY ALL ORDER BY ALL"),
            ("SELECT count() AS orders FROM orders "
             "WHERE o_orderpriority = getvariable('prio')",
             "SELECT count() FROM orders WHERE o_orderpriority = '{prio}'"),
        ),
        {"prio": ["1-URGENT", "3-MEDIUM", "5-LOW"]},
    ),
    Dashboard(
        "hot_events",
        (
            ("SELECT 'Sessions per Week'::SECTION", None),
            ("SELECT DISTINCT event_type::DROPDOWN AS et FROM events ORDER BY 1",
             "SELECT DISTINCT event_type FROM events ORDER BY 1"),
            ("SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY, "
             "count()::BARCHART_STACKED AS n FROM events GROUP BY ALL ORDER BY ALL",
             "SELECT epoch_ms(date_trunc('week', ts)) AS w, event_type, count() "
             "FROM events GROUP BY ALL ORDER BY ALL"),
            ("SELECT 'Daily value'::LABEL", None),
            ("SELECT date_trunc('day', ts)::XAXIS, sum(value)::LINECHART AS total "
             "FROM events WHERE event_type = getvariable('et') GROUP BY ALL ORDER BY ALL",
             "SELECT epoch_ms(date_trunc('day', ts)) AS d, sum(value) FROM events "
             "WHERE event_type = '{et}' GROUP BY ALL ORDER BY ALL"),
            ("SELECT regexp_extract(props, 'src\": \"([a-z]+)', 1) AS source, "
             "count() AS events, count(DISTINCT user_id) AS users FROM events "
             "WHERE event_type = getvariable('et') GROUP BY ALL ORDER BY ALL",
             "SELECT regexp_extract(props, 'src\": \"([a-z]+)', 1), count(), "
             "count(DISTINCT user_id) FROM events "
             "WHERE event_type = '{et}' GROUP BY ALL ORDER BY ALL"),
            ("SELECT user_id, count() AS n FROM events WHERE event_type = getvariable('et') "
             "GROUP BY ALL ORDER BY n DESC, user_id LIMIT 10",
             "SELECT user_id, count() AS n FROM events WHERE event_type = '{et}' "
             "GROUP BY ALL ORDER BY n DESC, user_id LIMIT 10"),
        ),
        {"et": ["click", "purchase", "search"]},
    ),
    Dashboard(
        "hot_lineitem",
        (
            ("SELECT 'Pricing summary'::SECTION", None),
            ("SELECT DISTINCT l_returnflag::DROPDOWN AS flag FROM lineitem ORDER BY 1",
             "SELECT DISTINCT l_returnflag FROM lineitem ORDER BY 1"),
            ("SELECT l_linestatus AS status, sum(l_quantity) AS qty, "
             "sum(l_extendedprice) AS base, avg(l_discount) AS avg_disc, count() AS lines "
             "FROM lineitem WHERE l_returnflag = getvariable('flag') "
             "GROUP BY ALL ORDER BY ALL",
             "SELECT l_linestatus, sum(l_quantity), sum(l_extendedprice), "
             "avg(l_discount), count() FROM lineitem WHERE l_returnflag = '{flag}' "
             "GROUP BY ALL ORDER BY ALL"),
            ("SELECT 'Shipments per quarter'::LABEL", None),
            ("SELECT date_trunc('quarter', l_shipdate)::XAXIS, count()::BARCHART AS lines "
             "FROM lineitem WHERE l_returnflag = getvariable('flag') "
             "GROUP BY ALL ORDER BY ALL",
             "SELECT epoch_ms(date_trunc('quarter', l_shipdate)) AS q, count() "
             "FROM lineitem WHERE l_returnflag = '{flag}' GROUP BY ALL ORDER BY ALL"),
            ("SELECT n_name AS nation, count() AS customers, sum(c_acctbal) AS balance "
             "FROM customer JOIN nation ON c_nationkey = n_nationkey "
             "GROUP BY ALL ORDER BY ALL",
             "SELECT n_name, count(), sum(c_acctbal) FROM customer JOIN nation "
             "ON c_nationkey = n_nationkey GROUP BY ALL ORDER BY ALL"),
        ),
        {"flag": ["A", "N", "R"]},
    ),
)

# -- ingest_mix: a live dashboard over the ingested table, and one that
# creates a statement-scoped temp view ---------------------------------------

LIVE = Dashboard(
    "live_ingest",
    (
        ("SELECT 'Live ingest'::SECTION", None),
        (f"SELECT count() AS rows_ingested FROM {LIVE_TABLE}", None),
        (f"SELECT kind::XAXIS, sum(amount)::BARCHART AS amount FROM {LIVE_TABLE} "
         "GROUP BY ALL ORDER BY ALL", None),
        (f"SELECT kind, count() AS n, max(seq) AS last_seq FROM {LIVE_TABLE} "
         "GROUP BY ALL ORDER BY ALL", None),
    ),
)

# Input and datepicker values come from domains far larger than the plan
# cache's 256 entries, so every statement here is a new text. The
# statement-scoped temp view bumps the plan cache for every tenant.
EXPLORER = Dashboard(
    "order_explorer",
    (
        ("SELECT 'Order explorer'::SECTION", None),
        ("SELECT DATE '1995-01-01'::DATEPICKER AS since",
         "SELECT epoch_ms(DATE '1995-01-01')"),
        ("SELECT 'Minimum total'::INPUT AS mintotal", "SELECT 'Minimum total'"),
        ("CREATE TEMP VIEW picked_orders AS SELECT * FROM orders "
         "WHERE o_orderdate >= getvariable('since') "
         "AND o_totalprice >= CAST(getvariable('mintotal') AS DOUBLE)", None),
        ("SELECT o_orderpriority AS priority, count() AS orders, "
         "sum(o_totalprice) AS total FROM picked_orders GROUP BY ALL ORDER BY ALL",
         "SELECT o_orderpriority, count(), sum(o_totalprice) FROM orders "
         "WHERE o_orderdate >= DATE '{since}' AND o_totalprice >= {mintotal} "
         "GROUP BY ALL ORDER BY ALL"),
        ("SELECT c_mktsegment::XAXIS, count()::BARCHART AS orders FROM picked_orders "
         "JOIN customer ON o_custkey = c_custkey GROUP BY ALL ORDER BY ALL",
         "SELECT c_mktsegment, count() FROM orders JOIN customer "
         "ON o_custkey = c_custkey WHERE o_orderdate >= DATE '{since}' "
         "AND o_totalprice >= {mintotal} GROUP BY ALL ORDER BY ALL"),
        ("SELECT max(o_totalprice) AS largest FROM picked_orders",
         "SELECT max(o_totalprice) FROM orders WHERE o_orderdate >= DATE '{since}' "
         "AND o_totalprice >= {mintotal}"),
    ),
    {
        "since": [
            (dt.date(1992, 1, 1) + dt.timedelta(days=d)).isoformat()
            for d in range(2300)
        ],
        "mintotal": [str(v) for v in range(1000, 300000, 100)],
    },
)

ALL_DASHBOARDS = HOT + (LIVE, EXPLORER)


@dataclass(frozen=True)
class Request:
    dashboard: Dashboard
    params: dict


def pick(rng: random.Random, d: Dashboard) -> Request:
    return Request(d, {k: rng.choice(v) for k, v in d.choices.items()})


def hot_warmup() -> list[Request]:
    """Every (dashboard, value) pair of the hot set once, so the plan cache
    holds every statement the timed window will send."""
    out = []
    for d in HOT:
        ((name, values),) = d.choices.items()
        out += [Request(d, {name: v}) for v in values]
    return out


def cycle(rng: random.Random, dashboards):
    """Endless requests: each round visits every dashboard once in a
    seed-shuffled order, so every run renders the same mix."""
    while True:
        order = list(dashboards)
        rng.shuffle(order)
        for d in order:
            yield pick(rng, d)


def ingest_batch(rng: random.Random, seq0: int, rows: int) -> list[dict]:
    return [
        {
            "kind": rng.choice(LIVE_KINDS),
            "amount": rng.randint(0, 100000) / 100.0,
            "seq": float(seq0 + i),
        }
        for i in range(rows)
    ]


# -- comparing rendered rows with the oracle --------------------------------


def rendered_rows(tree: dict) -> list[list]:
    """Rows of every rendered query, in dashboard order."""
    return [q["rows"] for s in tree.get("sections", []) for q in s["queries"]]


def _same(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        # Spark and DuckDB sum doubles in different orders.
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[list], want: list[list]) -> bool:
    """Row lists equal cell by cell, doubles within rounding."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def queries_match(got: list[list[list]], want: list[list[list]]) -> bool:
    return len(got) == len(want) and all(map(rows_match, got, want))
