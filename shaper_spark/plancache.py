"""Analyzed-logical-plan cache for repeated statement text.

A dashboard server re-serves the SAME SQL text constantly (every
render, every widget refresh re-runs the dashboard's statements with
identical or identically-substituted text).  Spark's per-query cost on
a warm session decomposes into (a) parse + analysis of the statement
and (b) optimization + physical planning + execution; DuckDB's
parse+plan is sub-millisecond, so an engine that re-parses and
re-resolves every render pays a per-statement tax the reference engine
does not.

This module memoizes the *analyzed logical plan* (a JVM
``LogicalPlan``), NOT a DataFrame.  A cache hit builds a **fresh
Dataset** from the memoized plan via
``org.apache.spark.sql.classic.Dataset.ofRows`` — a new
QueryExecution, new optimization (so per-execution rules like
``ComputeCurrentTime`` re-run: ``now()`` / ``current_timestamp`` give
the render's real time, not the first render's), new RDD lineage and
new shuffle IDs.  Every job, shuffle and scan re-executes on every
call; only parsing + analysis is skipped.  (Re-collecting the *same*
DataFrame object instead would let Spark reuse its already-computed
shuffle map outputs — "skipped stages" — which is result/stage-serving
behavior, not a fresh execution.  This module never hands the same
DataFrame out twice; bench.py measures the stage-reuse protocol
separately and labels it ``serving``.)

Never memoized (each call falls through to ``spark.sql``):

- **Command plans** (INSERT / CREATE / … including ``WITH``-headed
  DML): Spark executes them eagerly inside ``spark.sql``; callers must
  re-execute per call and invalidate afterwards — see
  :func:`plan_is_command`, which the engine uses to ``bump()`` after
  any command that slipped past its keyword gate (e.g.
  ``WITH c AS (...) INSERT ...``).
- **Seed-frozen nondeterminism**: ``rand()`` / ``randn()`` / ``uuid()``
  / ``shuffle()`` seeds and ``TABLESAMPLE`` sampling seeds are assigned
  by the *analyzer*, so a memoized analyzed plan would replay the first
  call's randomness forever.  Detected on the analyzed plan tree (which
  has views inlined, so a view hiding ``rand()`` is caught too).

Staleness: an analyzed plan pins resolved relations and their file
listings, so any catalog or data mutation must invalidate.  ``bump()``
is called from every local mutation path (side-effect statements, DML,
ingest appends, snapshot restore, (re-)registration of the sf tables)
and flushes the whole cache.  Multi-host deployments (several servers
on one shared metastore) additionally wire a *staleness probe*
(:func:`set_staleness_probe`): ``analyzed()`` polls each registered
probe's generation token per call and flushes when another host
mutated — see ``Metastore.data_generation`` — and ``bump()`` notifies
registered broadcasters so this host's mutations bump the shared
generation for everyone else.

Reference parity: the reference keeps one DuckDB instance hot and lets
DuckDB's own (sub-ms) planner re-plan each time — this cache is the
Spark-shaped equivalent of "keep the engine warm".
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict
from typing import Any, Callable

__all__ = [
    "analyzed",
    "bump",
    "stats",
    "clear",
    "plan_is_command",
    "set_staleness_probe",
    "add_bump_broadcaster",
]

_LOCK = threading.RLock()
# key -> (spark, jplan): the session object rides along so an
# id()-reuse after GC can never alias a dead session's plans.
_CACHE: "OrderedDict[tuple[int, str], tuple[Any, Any]]" = OrderedDict()
_CAPACITY = 256
_HITS = 0
_MISSES = 0
_BYPASSES = 0
_GEN = 0
# Multi-host staleness: probe-name -> (fn, last_token).  Checked per
# analyzed() call; a changed token flushes the cache (another host
# mutated shared state this process never saw a bump() for).
_PROBES: dict[str, tuple[Callable[[], Any], Any]] = {}
# Called (once each) from bump() so local mutations propagate to the
# shared generation counter other hosts poll.
_BROADCASTERS: dict[str, Callable[[], None]] = {}

# Expression/node shapes whose seeds freeze at analysis time.  Matched
# against the analyzed plan's tree string: function seeds render as
# e.g. ``rand(-1234…)``/``uuid()``; TABLESAMPLE renders as a
# ``Sample lower, upper, withReplacement, seed`` node at line head.
_SEEDED_RE = re.compile(
    r"\b(?:rand|randn|uuid|shuffle)\("
    r"|^[\s+:|-]*Sample\s"
    r"|monotonically_increasing_id\(",
    re.MULTILINE,
)

_COMMAND_CLASSES = (
    "org.apache.spark.sql.catalyst.plans.logical.Command",
    "org.apache.spark.sql.catalyst.plans.logical.CommandResult",
)


def _jplan_is_command(spark, jplan) -> bool:
    jvm = spark._jvm
    for cls in _COMMAND_CLASSES:
        if jvm.java.lang.Class.forName(cls).isInstance(jplan):
            return True
    return False


def plan_is_command(df) -> bool:
    """True when the DataFrame's analyzed plan is a (possibly already
    eagerly-executed) command — the engine calls this for statements
    whose *leading keyword* looked read-only (``WITH``-headed DML) and
    ``bump()``s, since the command mutated state."""
    return _jplan_is_command(
        df.sparkSession, df._jdf.queryExecution().analyzed()
    )


def _check_probes() -> None:
    """Poll registered multi-host staleness probes; flush on change.
    A flush advances the generation like a local ``bump()``."""
    global _GEN
    if not _PROBES:
        return
    stale = False
    with _LOCK:
        for name, (fn, last) in list(_PROBES.items()):
            try:
                token = fn()
            except Exception:
                continue  # an unreachable store must not break renders
            if token != last:
                _PROBES[name] = (fn, token)
                stale = True
        if stale:
            _GEN += 1
            _CACHE.clear()


def analyzed(spark, sql_text: str):
    """``spark.sql(sql_text)`` with the *analyzed logical plan*
    memoized per (session, statement text).  Hits build a fresh Dataset
    from the plan (full execution, fresh optimization — see module
    docstring); commands and seed-frozen-nondeterministic statements
    bypass the cache entirely."""
    global _HITS, _MISSES, _BYPASSES
    _check_probes()
    key = (id(spark), sql_text)
    with _LOCK:
        hit = _CACHE.get(key)
        if hit is not None and hit[0] is spark:
            _CACHE.move_to_end(key)
            _HITS += 1
            jplan = hit[1]
        else:
            jplan = None
    if jplan is not None:
        from pyspark.sql import DataFrame

        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, jplan
        )
        return DataFrame(jdf, spark)
    df = spark.sql(sql_text)
    jplan = df._jdf.queryExecution().analyzed()
    if _jplan_is_command(spark, jplan) or _SEEDED_RE.search(
        jplan.toString()
    ):
        with _LOCK:
            _BYPASSES += 1
        return df
    with _LOCK:
        _MISSES += 1
        _CACHE[key] = (spark, jplan)
        while len(_CACHE) > _CAPACITY:
            _CACHE.popitem(last=False)
    return df


def bump() -> None:
    """Invalidate everything — call after ANY catalog or data mutation
    (DDL/DML, temp-view (re)registration, ingest append, ATTACH,
    snapshot restore).  Coarse by design: mutations are rare next to
    renders, and a full flush is provably safe.  Also notifies
    registered broadcasters so other hosts sharing a metastore see the
    mutation (their probes flush their caches)."""
    global _GEN
    with _LOCK:
        _GEN += 1
        _CACHE.clear()
        broadcasters = list(_BROADCASTERS.values())
    for fn in broadcasters:
        try:
            fn()
        except Exception:
            pass  # an unreachable store must not break mutations


def clear() -> None:
    bump()


def set_staleness_probe(name: str, fn: Callable[[], Any]) -> None:
    """Register (idempotently, keyed by ``name``) a generation-token
    callable polled on every ``analyzed()`` call; when its return value
    changes between calls, the whole cache flushes.  Wire this to
    ``Metastore.data_generation`` in multi-host deployments."""
    with _LOCK:
        try:
            token = fn()
        except Exception:
            token = None
        _PROBES[name] = (fn, token)


def add_bump_broadcaster(name: str, fn: Callable[[], None]) -> None:
    """Register (idempotently, keyed by ``name``) a callable invoked on
    every ``bump()`` — wire to ``Metastore.bump_data_generation`` so
    this host's mutations invalidate other hosts' caches."""
    with _LOCK:
        _BROADCASTERS[name] = fn


def remove_probe(name: str) -> None:
    with _LOCK:
        _PROBES.pop(name, None)
        _BROADCASTERS.pop(name, None)


def generation() -> int:
    """The current data generation, after polling the multi-host probes,
    so a change on another host counts even when no ``analyzed()`` call
    has seen it yet."""
    _check_probes()
    return _GEN


def stats() -> dict[str, int]:
    with _LOCK:
        return {
            "hits": _HITS,
            "misses": _MISSES,
            "bypasses": _BYPASSES,
            "size": len(_CACHE),
            "generation": _GEN,
        }
