"""Deterministic star-schema tables for the benchmark, written as parquet.

The tables mirror the shapes of the repository's sf test data (TPC-H-ish
``customer``/``orders``/``lineitem``/``nation`` plus an ``events`` stream),
generated with DuckDB from a hash of the row index, so the same scale gives
byte-identical values on every machine and thread count. The data does not
depend on the workload seed: the seed only picks variable values, render
order and ingest payloads (see ``workloads.py``).
"""

from __future__ import annotations

import os

import duckdb

TABLES = ("nation", "customer", "orders", "lineitem", "events")

# Hash of (row index, column salt) scaled to [0, 1).
_U = "((hash(i, {salt}) % 1000000007) / 1000000007.0)"

_SQL = {
    "nation": """
        SELECT i::INTEGER AS n_nationkey,
               'NATION_' || lpad(i::VARCHAR, 2, '0') AS n_name,
               (i % 5)::INTEGER AS n_regionkey
        FROM range(25) t(i)""",
    "customer": """
        SELECT (i + 1)::BIGINT AS c_custkey,
               'Customer#' || lpad((i + 1)::VARCHAR, 9, '0') AS c_name,
               floor({u1} * 25)::INTEGER AS c_nationkey,
               round({u2} * 10999.99 - 999.99, 2) AS c_acctbal,
               ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                'MACHINERY'][1 + floor({u3} * 5)::INTEGER] AS c_mktsegment
        FROM range({n}) t(i)""",
    "orders": """
        SELECT (i + 1)::BIGINT AS o_orderkey,
               (1 + floor({u1} * {ncust}))::BIGINT AS o_custkey,
               ['F', 'O', 'P'][1 + floor({u2} * 3)::INTEGER] AS o_orderstatus,
               round(900 + {u3} * 400000, 2) AS o_totalprice,
               TIMESTAMP '1992-01-01' + to_seconds(floor({u4} * 2400 * 86400)::BIGINT)
                   AS o_orderdate,
               ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                '5-LOW'][1 + floor({u5} * 5)::INTEGER] AS o_orderpriority
        FROM range({n}) t(i)""",
    "lineitem": """
        SELECT (i // 4 + 1)::BIGINT AS l_orderkey,
               (i % 4 + 1)::INTEGER AS l_linenumber,
               (1 + floor({u1} * 50))::DOUBLE AS l_quantity,
               round(900 + {u2} * 100000, 2) AS l_extendedprice,
               round(floor({u3} * 11) / 100, 2) AS l_discount,
               round(floor({u4} * 9) / 100, 2) AS l_tax,
               ['A', 'N', 'R'][1 + floor({u5} * 3)::INTEGER] AS l_returnflag,
               ['F', 'O'][1 + floor({u6} * 2)::INTEGER] AS l_linestatus,
               TIMESTAMP '1992-01-02' + to_seconds(floor({u7} * 2500 * 86400)::BIGINT)
                   AS l_shipdate
        FROM range({n}) t(i)""",
    "events": """
        SELECT (i + 1)::BIGINT AS event_id,
               TIMESTAMP '2024-01-01' + to_seconds(floor({u1} * 180 * 86400)::BIGINT)
                   AS ts,
               (1 + floor({u2} * {nusers}))::BIGINT AS user_id,
               ['click', 'view', 'purchase', 'signup', 'search', 'share',
                'logout', 'login'][1 + floor({u3} * 8)::INTEGER] AS event_type,
               round({u4} * 100, 2) AS value,
               '{{"src": "' || ['web', 'ios', 'android'][1 + floor({u5} * 3)::INTEGER]
                   || '"}}' AS props
        FROM range({n}) t(i)""",
}


def table_rows(scale: float) -> dict[str, int]:
    return {
        "nation": 25,
        "customer": max(150, int(150_000 * scale)),
        "orders": max(1500, int(1_500_000 * scale)),
        "lineitem": 4 * max(1500, int(1_500_000 * scale)),
        "events": max(1000, int(1_000_000 * scale)),
    }


def build(out_dir: str, scale: float) -> str:
    """Write every table under ``out_dir`` unless a complete set is there.

    Returns ``out_dir``. A ``.done`` marker is written last, so an
    interrupted build is redone on the next call.
    """
    marker = os.path.join(out_dir, ".done")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows(scale)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name in TABLES:
            us = {f"u{k}": _U.format(salt=f"'{name}{k}'") for k in range(1, 8)}
            sql = _SQL[name].format(
                n=rows[name],
                ncust=rows["customer"],
                nusers=max(100, rows["events"] // 50),
                **us,
            )
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
    with open(marker, "w") as f:
        f.write(repr(rows))
    return out_dir
