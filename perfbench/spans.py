"""In-memory span recorder for the traced benchmark run.

Wraps the public functions of each layer at the name the caller actually
resolves, records one span per call (name, start, end, parent, render id and
a few attributes) and writes every span to a JSON file at the end. Nothing
is changed inside ``shaper_spark``: the wrappers are installed by the serving
process only when the benchmark runs with ``--trace 1``.

Times are ``time.monotonic()`` seconds, which on Linux is one clock shared by
all processes, so the load generator can align spans with its own windows.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

# Header the load generator sets on each render request; the HTTP handler
# ignores it, the recorder uses it to tie server spans to client latencies.
RENDER_ID_HEADER = "X-Render-Id"

_PHASES = ("parsing", "analysis", "optimization", "planning")


def _phases(df) -> dict[str, float]:
    """Milliseconds per planning phase from the Dataset's QueryPlanningTracker."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class Recorder:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._group_ids = itertools.count()
        self._span_ids = itertools.count()

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, name: str, fn, after=None, around=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            span = {
                "name": name,
                "parent": stack[-1] if stack else None,
                "rid": getattr(self._local, "rid", None),
                "start": time.monotonic(),
            }
            idx = span["id"] = next(self._span_ids)
            self.spans.append(span)  # list.append is atomic under the GIL
            stack.append(idx)
            ctx = around(span, args) if around else None
            try:
                result = fn(*args, **kwargs)
            finally:
                if around:
                    ctx()
                span["end"] = time.monotonic()
                stack.pop()
            if after:
                after(span, args, result)
            return result

        return wrapper

    def _patch(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self._wrap(name, getattr(owner, attr), **kw))

    # -- layer hooks -------------------------------------------------------

    def _collect_around(self, span, args):
        """Tag the statement's jobs with a job group of their own (a local
        property, so per thread) to count them after the collect."""
        df = args[0]
        sc = df.sparkSession.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        gid = f"perfbench-{next(self._group_ids)}"
        sc.setLocalProperty("spark.jobGroup.id", gid)

        def done():
            sc.setLocalProperty("spark.jobGroup.id", prev)
            span["jobs"] = len(sc.statusTracker().getJobIdsForGroup(gid))

        return done

    @staticmethod
    def _collect_after(span, args, result):
        span["phases"] = _phases(args[0])
        span["rows"] = len(result)

    @staticmethod
    def _analyzed_after(span, args, df):
        from shaper_spark import plancache

        span["phases"] = _phases(df)
        span["pc"] = plancache.stats()

    def install(self) -> None:
        """Wrap every layer function; call before the server is built."""
        from pyspark.sql.classic import dataframe as classic_df
        from shaper_spark import api, engine, ingest, metastore, plancache, sqltool

        self.baseline_pc = plancache.stats()
        # Spark 4.1 dispatches collect() on the classic subclass; wrapping
        # the base pyspark.sql.DataFrame.collect records nothing.
        self._patch(
            classic_df.DataFrame, "collect", "spark.collect",
            around=self._collect_around, after=self._collect_after,
        )
        self._patch(api, "query_dashboard", "api.query_dashboard")
        self._patch(metastore.Metastore, "get_app", "metastore.get_app")
        for fn in ("strip_sql_comments", "split_sql_queries",
                   "is_allowed_statement", "is_side_effect"):
            self._patch(sqltool, fn, "sqltool." + fn)
        self._patch(engine, "_run_query", "engine.run_query")
        # imported by name into engine, so wrap the engine's binding
        self._patch(engine, "rewrite_statement", "rewrite.rewrite_statement")
        self._patch(engine, "get_render_info", "render.get_render_info")
        self._patch(engine, "normalize_rows", "normalize.normalize_rows")
        # resolved at call time inside _run_query
        self._patch(plancache, "analyzed", "plancache.analyzed",
                    after=self._analyzed_after)
        self._patch(ingest.IngestBuffer, "flush", "ingest.flush")
        self._patch(ingest.IngestBuffer, "ensure_table_schema",
                    "ingest.ensure_table_schema")

    def install_handler(self, srv) -> None:
        """Wrap the server's request handler so each request is a root
        ``api.handle`` span carrying the client's render id."""
        handler = srv._server.RequestHandlerClass
        local = self._local

        def around(span, args):
            rid = args[0].headers.get(RENDER_ID_HEADER)
            local.rid = span["rid"] = rid

            def done():
                local.rid = None

            return done

        for method in ("do_GET", "do_POST"):
            self._patch(handler, method, "api.handle", around=around)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"baseline_pc": self.baseline_pc,
                 "spans": [s for s in self.spans if "end" in s]},
                f,
            )
