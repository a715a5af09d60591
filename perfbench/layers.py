"""Per-layer metrics of a traced run, computed from the spans of ``spans.py``.

Statement-level figures (``spark.*``, ``rewrite.*``, ``engine.text_ms``,
``plancache.analyzed_ms``, ``render.*``, ``normalize.*``) are means per call
over the statements of the timed renders; ``sqltool.split_ms`` and
``metastore.get_app_ms`` are means per render; counters are totals over the
timed window. A layer the workload does not exercise reports 0.
"""

from __future__ import annotations

import os
import statistics

PHASE_METRICS = {
    "parsing": "spark.parse_ms",
    "analysis": "spark.analysis_ms",
    "optimization": "spark.optimization_ms",
    "planning": "spark.planning_ms",
}

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "spark.collect_ms": "ms",
    "spark.collect_share": "ratio",
    "spark.jobs": "count",
    "spark.parse_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "rewrite.rewrite_statement_ms": "ms",
    "engine.text_ms": "ms",
    "engine.statements": "count",
    "plancache.analyzed_ms": "ms",
    "plancache.hits": "count",
    "plancache.misses": "count",
    "plancache.bypasses": "count",
    "plancache.hit_ratio": "ratio",
    "plancache.bumps": "count",
    "ingest.flush_ms": "ms",
    "ingest.flushes": "count",
    "ingest.ensure_table_schema_ms": "ms",
    "ingest.table_files": "count",
    "ingest.ack_p50_ms": "ms",
    "ingest.ack_max_ms": "ms",
    "ingest.rows_per_s": "1/s",
    "ingest.fail_ratio": "ratio",
    "api.overhead_ms": "ms",
    "metastore.get_app_ms": "ms",
    "sqltool.split_ms": "ms",
    "render.get_render_info_ms": "ms",
    "normalize.normalize_rows_ms": "ms",
    "loadgen.lag_ms": "ms",
    "loadgen.render_fail_ratio": "ratio",
    "trace.render_p50_ms": "ms",
    "server.peak_rss_mb": "MB",
}


def _ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _table_files(workdir: str, table: str) -> int:
    path = os.path.join(workdir, "spark-warehouse", table)
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.startswith("part-"))


def per_layer(res: dict, workdir: str) -> dict:
    from workloads import LIVE_TABLE

    run = res["run"]
    t0, t_end = run.t0, run.t_end
    spans = res["spans"]["spans"]
    by_id = {s["id"]: s for s in spans}
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    timed = [r for r in run.renders if r["timed"]]
    ok_rids = {str(r["rid"]) for r in timed if r["status"] == 200}
    in_renders = [s for s in spans if s["rid"] in ok_rids]

    def named(name, pool=in_renders):
        return [s for s in pool if s["name"] == name]

    def parent_name(s):
        p = by_id.get(s["parent"])
        return p["name"] if p else None

    statements = named("engine.run_query")
    collects = [s for s in named("spark.collect") if parent_name(s) == "engine.run_query"]
    out = {
        "spark.collect_ms": _mean(map(_ms, collects)),
        "spark.jobs": _mean(s["jobs"] for s in collects),
        "engine.statements": len(statements) / max(1, len(ok_rids)),
    }
    render_ms = sum((r["end"] - r["start"]) * 1000 for r in timed if str(r["rid"]) in ok_rids)
    out["spark.collect_share"] = sum(map(_ms, collects)) / render_ms if render_ms else 0.0

    phases = {m: [] for m in PHASE_METRICS.values()}
    text = []
    for st in statements:
        kids = children.get(st["id"], [])
        totals = dict.fromkeys(PHASE_METRICS, 0.0)
        for k in kids:
            for phase, ms in k.get("phases", {}).items():
                if phase in totals:
                    totals[phase] += ms
        for phase, metric in PHASE_METRICS.items():
            phases[metric].append(totals[phase])
        text.append(_ms(st) - sum(
            _ms(k) for k in kids
            if k["name"] in ("rewrite.rewrite_statement", "plancache.analyzed", "spark.collect")
        ))
    out.update({m: _mean(v) for m, v in phases.items()})
    out["engine.text_ms"] = _mean(text)
    out["rewrite.rewrite_statement_ms"] = _mean(map(_ms, named("rewrite.rewrite_statement")))
    out["plancache.analyzed_ms"] = _mean(map(_ms, named("plancache.analyzed")))

    # plan-cache counters: stats() snapshots taken after each analyzed()
    # call; the window's delta is the last snapshot in it minus the last
    # one before it.
    snaps = sorted(
        (s["end"], s["pc"]) for s in spans if s["name"] == "plancache.analyzed"
    )
    before = res["spans"]["baseline_pc"]
    last = before
    for end, pc in snaps:
        if end < t0:
            before = last = pc
        elif end <= t_end:
            last = pc
    delta = {k: last[k] - before[k] for k in ("hits", "misses", "bypasses", "generation")}
    lookups = delta["hits"] + delta["misses"] + delta["bypasses"]
    out.update({
        "plancache.hits": delta["hits"],
        "plancache.misses": delta["misses"],
        "plancache.bypasses": delta["bypasses"],
        "plancache.hit_ratio": delta["hits"] / lookups if lookups else 0.0,
        "plancache.bumps": delta["generation"],
    })

    window = [s for s in spans if t0 <= s["start"] <= t_end]
    flushes = [
        s for s in named("ingest.flush", window)
        if any(k["name"] == "ingest.ensure_table_schema" for k in children.get(s["id"], []))
    ]
    batches = [b for b in run.batches if t0 <= b["due"] <= t_end and b["table"] == LIVE_TABLE]
    acks = [(b["end"] - b["due"]) * 1000 for b in batches if b["status"] == 200]
    out.update({
        "ingest.flush_ms": _mean(map(_ms, flushes)),
        "ingest.flushes": len(flushes),
        "ingest.ensure_table_schema_ms": _mean(
            map(_ms, named("ingest.ensure_table_schema", window))
        ),
        "ingest.table_files": _table_files(workdir, LIVE_TABLE),
        "ingest.ack_p50_ms": statistics.median(acks) if acks else 0.0,
        "ingest.ack_max_ms": max(acks, default=0.0),
        "ingest.rows_per_s": sum(
            len(b["rows"]) for b in batches if b["status"] == 200 and b["end"] <= t_end
        ) / (t_end - t0),
        "ingest.fail_ratio": (
            sum(b["status"] != 200 for b in batches) / len(batches) if batches else 0.0
        ),
        "loadgen.lag_ms": statistics.median(
            (b["sent"] - b["due"]) * 1000 for b in batches
        ) if batches else 0.0,
    })

    served = {s["rid"]: _ms(s) for s in named("api.query_dashboard")}
    out["api.overhead_ms"] = statistics.median(
        (r["end"] - r["start"]) * 1000 - served[str(r["rid"])]
        for r in timed if str(r["rid"]) in served
    ) if served else 0.0
    n = max(1, len(ok_rids))
    out["metastore.get_app_ms"] = sum(map(_ms, named("metastore.get_app"))) / n
    out["sqltool.split_ms"] = sum(
        _ms(s) for s in in_renders
        if s["name"].startswith("sqltool.")
        and not (parent_name(s) or "").startswith("sqltool.")
    ) / n
    out["render.get_render_info_ms"] = _mean(map(_ms, named("render.get_render_info")))
    out["normalize.normalize_rows_ms"] = _mean(map(_ms, named("normalize.normalize_rows")))

    failed = sum(not r.get("ok") for r in timed)
    out["loadgen.render_fail_ratio"] = failed / len(timed) if timed else 0.0
    out["trace.render_p50_ms"] = statistics.median(
        (r["end"] - r["start"]) * 1000 for r in timed
    )
    out["server.peak_rss_mb"] = res["peak_rss_mb"]
    return {k: (float(out[k]), unit) for k, unit in METRICS.items()}
