"""Scheduled SQL tasks (ELT jobs): executor, SCHEDULE computation, and a
single-process scheduler.

Reference semantics being re-expressed (not copied):
  * executeTaskOnDB       — server/core/run_task.go:67-258
  * getScheduleColumn     — server/core/run_task.go:36-47
  * needsNoTransaction    — server/core/run_task.go:49-65
  * isScheduleQueryCandidate / getNextTaskRun
                          — server/core/schedule_task.go:65-142
  * init-SQL + getenv()   — server/core/app.go:238-334, server/util/duckdb.go:14-57

Documented divergences from the reference:
  * No multi-statement transactions — Spark has per-statement atomicity
    only (per-table for file formats). The reference itself skips the
    transaction when ATTACH/INSTALL/LOAD/CREATE SECRET appear
    (run_task.go:49-65); here every task runs in that mode.
  * Single-process scheduler — the reference dedupes timer firings
    across nodes via a NATS work-queue stream with MsgID
    (schedule_task.go:215-237). On Spark the natural unit is one driver;
    multi-driver dedupe would sit in front of this module, not inside it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import hmac
import json
import os
import re
import secrets as _secrets
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

from . import sqltool
from .engine import _get_schedule_time, _Macro, _run_query, _VarState
from .render import Column

__all__ = [
    "TaskQueryResult",
    "TaskResult",
    "execute_task",
    "get_next_task_run",
    "needs_no_transaction",
    "is_schedule_query_candidate",
    "TaskScheduler",
    "run_init_sql",
]

TASK_MAX_ROWS = 3000


@dataclass
class TaskQueryResult:
    sql: str
    duration_ms: int = 0
    result_columns: list[str] = field(default_factory=list)
    result_rows: list[list[Any]] = field(default_factory=list)
    error: str | None = None
    stop_execution: bool = False

    def to_dict(self) -> dict[str, Any]:
        return {
            "sql": self.sql,
            "duration": self.duration_ms,
            "resultColumns": self.result_columns,
            "resultRows": self.result_rows,
            "error": self.error,
            "stopExecution": self.stop_execution,
        }


@dataclass
class TaskResult:
    started_at: int = 0
    success: bool = False
    queries: list[TaskQueryResult] = field(default_factory=list)
    total_queries: int = 0
    next_run_at: int = 0  # epoch ms; 0 = none, -1 = 'init'
    schedule_type: str = ""  # "single" | "all"

    def to_dict(self) -> dict[str, Any]:
        return {
            "startedAt": self.started_at,
            "success": self.success,
            "queries": [q.to_dict() for q in self.queries],
            "totalQueries": self.total_queries,
            "nextRunAt": self.next_run_at,
            "scheduleType": self.schedule_type,
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "TaskResult":
        return cls(
            started_at=int(d.get("startedAt") or 0),
            success=bool(d.get("success")),
            queries=[
                TaskQueryResult(
                    sql=q.get("sql", ""),
                    duration_ms=int(q.get("duration") or 0),
                    result_columns=q.get("resultColumns") or [],
                    result_rows=q.get("resultRows") or [],
                    error=q.get("error"),
                    stop_execution=bool(q.get("stopExecution")),
                )
                for q in d.get("queries") or []
            ],
            total_queries=int(d.get("totalQueries") or 0),
            next_run_at=int(d.get("nextRunAt") or 0),
            schedule_type=d.get("scheduleType") or "",
        )


def needs_no_transaction(sql: str) -> bool:
    """Statements DuckDB refuses inside a transaction; retained for parity
    and surfaced in results even though Spark never opens one
    (run_task.go:49-65)."""
    upper = sql.strip().upper()
    if upper.startswith(("ATTACH", "DETACH", "INSTALL", "LOAD")):
        return True
    parts = upper.split()
    return len(parts) >= 2 and parts[0] == "CREATE" and parts[1] == "SECRET"


def _get_schedule_column(
    columns: list[Column], rows: list[list[Any]]
) -> tuple[str, bool]:
    """("single"|"all", is_schedule) — run_task.go:36-47: a SCHEDULE(_ALL)
    column counts only when the result is empty or exactly 1×1."""
    schedule_type = "single"
    idx = next((i for i, c in enumerate(columns) if c.custom_type == "SCHEDULE"), -1)
    if idx == -1:
        idx = next(
            (i for i, c in enumerate(columns) if c.custom_type == "SCHEDULE_ALL"), -1
        )
        if idx == -1:
            return "", False
        schedule_type = "all"
    ok = len(rows) == 0 or (len(rows) == 1 and len(rows[0]) == 1)
    return schedule_type, ok


_TABLE_REF = r"(`[^`]+`|\"[^\"]+\"|[\w.]+)"
_MUTATION_RES = [
    re.compile(
        rf"^\s*INSERT\s+(?:OR\s+(?:REPLACE|IGNORE)\s+)?INTO\s+{_TABLE_REF}",
        re.IGNORECASE,
    ),
    re.compile(rf"^\s*UPDATE\s+{_TABLE_REF}", re.IGNORECASE),
    re.compile(rf"^\s*DELETE\s+FROM\s+{_TABLE_REF}", re.IGNORECASE),
    re.compile(
        rf"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+"
        rf"(?:IF\s+NOT\s+EXISTS\s+)?{_TABLE_REF}",
        re.IGNORECASE,
    ),
    re.compile(
        rf"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?{_TABLE_REF}",
        re.IGNORECASE,
    ),
    re.compile(
        rf"^\s*TRUNCATE\s+(?:TABLE\s+)?{_TABLE_REF}", re.IGNORECASE
    ),
    re.compile(rf"^\s*ALTER\s+TABLE\s+{_TABLE_REF}", re.IGNORECASE),
]
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+.*\bRENAME\s+TO\b", re.IGNORECASE | re.DOTALL
)


def _norm_table_ref(name: str) -> str:
    return name.strip().strip('`"').lower()


def _mutation_statement_target(sql: str) -> str | None:
    for rx in _MUTATION_RES:
        m = rx.match(sql)
        if m:
            return _norm_table_ref(m.group(1))
    return None


def _script_tx_tables(statements: list[str]) -> set[str] | None:
    """The warehouse tables a script mutates BEFORE its final statement
    (each needs a pre-mutation snapshot for whole-script rollback), or
    None when the script needs no guard: read-only, or every mutation
    is the final statement (nothing after it can fail — per-statement
    atomicity already equals the reference's transaction, so the common
    append-only ingest task stays O(batch), never O(table)), or the
    script contains a table RENAME (target identity would shift
    mid-script; pinned per-statement-atomicity divergence).

    Reference run_task.go:67-258 wraps the whole script in one DuckDB
    transaction; r13 emulates it per mutated table via backup/restore
    (single-table since task 8, multi-table since this revision)."""
    stmts = [s for s in statements if s.strip()]
    first_mut: dict[str, int] = {}
    for i, s in enumerate(stmts):
        if _ALTER_RENAME_RE.match(s):
            return None
        t = _mutation_statement_target(s)
        if t is not None and t not in first_mut:
            first_mut[t] = i
    need = {t for t, i in first_mut.items() if i < len(stmts) - 1}
    return need or None


class _TableTxGuard:
    """Single-table task-transaction emulation (r12 verdict task 8):
    before the first mutating statement runs, the target table's rows
    are copied to a ``__tx_backup`` staging table; a mid-script
    failure restores the table (or drops it, if it did not exist) and
    a successful run drops the backup.  One extra CoW copy per
    mutating task run — the price of the reference's rollback
    semantics on a parquet warehouse."""

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table
        parts = table.split(".")
        bparts = parts[:-1] + [parts[-1] + "__tx_backup"]
        self.backup = ".".join(bparts)
        self.backup_q = ".".join(f"`{p}`" for p in bparts)
        self.qtable = ".".join(f"`{p}`" for p in parts)
        self.existed = False
        self.active = False

    def begin(self) -> None:
        if self.active:
            return
        try:
            self.existed = self.spark.catalog.tableExists(self.table)
            self.spark.sql(f"DROP TABLE IF EXISTS {self.backup_q}")
            if self.existed:
                self.spark.table(self.qtable).write.saveAsTable(
                    self.backup
                )
            self.active = True
        except Exception:
            # backup unavailable (view target, exotic source): fall
            # back to the documented per-statement atomicity
            self.active = False

    def rollback(self) -> None:
        if not self.active:
            return
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.qtable}")
            if self.existed:
                self.spark.table(self.backup_q).write.saveAsTable(
                    self.table
                )
        finally:
            self.cleanup()

    def cleanup(self) -> None:
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.backup_q}")
        except Exception:
            pass
        self.active = False
        from .plancache import bump

        bump()


class _ScriptTxGuard:
    """Whole-script transaction emulation over EVERY table the script
    mutates (reference run_task.go:67-258 wraps the script in one
    DuckDB transaction).  Each guarded table snapshots lazily right
    before its own first mutation; a mid-script failure restores all
    snapshotted tables.  If any snapshot itself fails (view target,
    exotic source) the WHOLE guard degrades to the documented
    per-statement atomicity — a partial cross-table restore would be a
    third semantics neither engine has."""

    def __init__(self, spark: SparkSession, tables: set[str]):
        self.spark = spark
        self.tables = tables
        self.guards: list[_TableTxGuard] = []
        self.begun: set[str] = set()
        self.degraded = False

    def ensure(self, table: str | None) -> None:
        if (
            table is None
            or self.degraded
            or table not in self.tables
            or table in self.begun
        ):
            return
        g = _TableTxGuard(self.spark, table)
        g.begin()
        self.begun.add(table)
        if g.active:
            self.guards.append(g)
        else:
            self.degraded = True

    def rollback(self) -> None:
        if self.degraded:
            self.cleanup()
            return
        for g in reversed(self.guards):
            g.rollback()
        self.guards = []

    def cleanup(self) -> None:
        for g in self.guards:
            g.cleanup()
        self.guards = []


def execute_task(
    spark: SparkSession,
    content: str,
    variables: dict[str, Any] | None = None,
    max_rows: int = TASK_MAX_ROWS,
) -> TaskResult:
    """Run a task script: ordered statements, per-statement timing and
    results, stop on error or on a single 1×1 ``false`` result, extract
    the SCHEDULE column into next_run_at (run_task.go:67-258).

    Mutating scripts get the reference's transaction-rollback
    semantics via :class:`_ScriptTxGuard` (per-table snapshot/restore,
    single- and multi-table); scripts containing a table RENAME keep
    the documented per-statement-atomicity divergence
    (tests/test_tasks.py::TestTransactionDivergence)."""
    result = TaskResult(started_at=int(time.time() * 1000))
    clean = sqltool.strip_sql_comments(content)
    statements = sqltool.split_sql_queries(clean)
    result.total_queries = len(statements)

    vars_ = _VarState(variables)
    macros: dict[str, _Macro] = {}
    success = True

    tx_tables = _script_tx_tables([s.strip() for s in statements])
    guard = _ScriptTxGuard(spark, tx_tables) if tx_tables else None

    for sql_string in statements:
        sql_string = sql_string.strip()
        if not sql_string:
            continue
        qres = TaskQueryResult(sql=sql_string)

        if not sqltool.is_allowed_task_statement(sql_string):
            qres.error = (
                "Statement not allowed in tasks (e.g., PRAGMA, SET configuration)"
            )
            success = False
            result.queries.append(qres)
            break

        if guard is not None:
            # snapshot lazily, right before each table's FIRST
            # mutation — a script failing in its read-only prefix
            # never pays a copy (and needs no restore)
            guard.ensure(_mutation_statement_target(sql_string))

        start = time.monotonic()
        try:
            columns, rows = _run_query(spark, sql_string, vars_, macros, max_rows)
        except Exception as e:  # surface engine errors per-query, stop the task
            qres.duration_ms = int((time.monotonic() - start) * 1000)
            qres.error = str(e)
            success = False
            result.queries.append(qres)
            break
        qres.duration_ms = int((time.monotonic() - start) * 1000)
        qres.result_columns = [c.name for c in columns]
        qres.result_rows = rows

        # Early termination: single 1×1 boolean false (run_task.go:195-199)
        if len(rows) == 1 and len(rows[0]) == 1 and rows[0][0] is False:
            qres.stop_execution = True

        schedule_type, is_schedule = _get_schedule_column(columns, rows)
        if is_schedule:
            if result.next_run_at != 0:
                qres.error = "Multiple SCHEDULE queries in task"
                success = False
                result.queries.append(qres)
            else:
                time_val = _get_schedule_time(rows)
                if time_val == -1:
                    schedule_type = "all"
                result.next_run_at = time_val
                result.schedule_type = schedule_type
                result.total_queries = len(statements) - 1
        else:
            result.queries.append(qres)

        if not success or qres.stop_execution:
            break

    if guard is not None:
        if success:
            guard.cleanup()
        else:
            guard.rollback()
    result.success = success
    return result


def is_schedule_query_candidate(sql: str) -> bool:
    """schedule_task.go:65-72."""
    upper = sql.strip().upper()
    if "SCHEDULE" not in upper:
        return False
    return upper.startswith(("SELECT", "WITH", "("))


def get_next_task_run(
    spark: SparkSession, content: str
) -> tuple[dt.datetime | None, str]:
    """(next_run, schedule_type): execute the task's SCHEDULE-candidate
    statements and read the schedule value (schedule_task.go:74-142).
    schedule_type is "single" (one node), "all", or "init"."""
    clean = sqltool.strip_sql_comments(content)
    statements = sqltool.split_sql_queries(clean)
    candidates = [s.strip() for s in statements if is_schedule_query_candidate(s)]
    if not candidates:
        return None, "single"
    vars_ = _VarState(None)
    for sql_string in candidates:
        try:
            columns, rows = _run_query(spark, sql_string, vars_, {}, TASK_MAX_ROWS)
        except Exception:
            continue
        schedule_type, is_schedule = _get_schedule_column(columns, rows)
        if is_schedule:
            value = _get_schedule_time(rows)
            if value == -1:
                return None, "init"
            if value <= 0:
                return None, schedule_type
            return dt.datetime.fromtimestamp(value / 1000.0, dt.timezone.utc), schedule_type
    return None, "single"


CONFIG_KEY_PUSH_SECRET = "push_secret"


def push_secret(store) -> bytes:
    """Shared per-metastore secret authenticating peer result pushes,
    created on first use and stored in the config KV alongside
    jwt_secret (auth.py). The instances table defines the trust
    domain, but instance ids travel in cleartext — the HMAC proves the
    sender actually shares the metastore, the way the reference's
    NATS mesh is closed to outsiders (server/core/app.go:425-489)."""
    val = store.config_get(CONFIG_KEY_PUSH_SECRET)
    if val is None:
        # create-once: insert-if-absent then read back, so two
        # instances racing on first use converge on one secret
        val = store.config_setdefault(
            CONFIG_KEY_PUSH_SECRET, _secrets.token_hex(32)
        )
    return val.encode()


def push_signature(store, body: bytes) -> str:
    return hmac.new(push_secret(store), body, hashlib.sha256).hexdigest()


class TaskScheduler:
    """Timer scheduler with optional multi-instance run dedupe.

    Mirrors schedule_task.go:211-237: *every* instance arms a timer for
    every task (nodes can come and go); at fire time a ``single``-type
    run is claimed through the shared metastore (``try_claim`` with key
    ``taskId-runAtMillis`` — the NATS MsgID dedupe re-expressed on
    SQLite) so exactly one instance executes. ``all``/``init`` runs
    execute on every instance, as in the reference. Without a store the
    scheduler degrades to the single-process behavior.

    Result transport: the winner records the run into the shared event
    log AND (when ``enable_push`` announced an HTTP address, as
    ShaperServer.start does) POSTs it straight to every live peer —
    the NATS-publish half of schedule_task.go:215-237. The log poll
    remains the catch-up path, so a failed push costs latency, never
    loss; pushed sequence numbers are remembered so the poll doesn't
    double-deliver."""

    #: how long a claim loser waits before reading the winner's recorded
    #: next_run_at to re-arm its own timer
    FOLLOW_DELAY_S = 2.0

    def __init__(
        self,
        spark: SparkSession,
        on_result: Callable[[str, TaskResult], None] | None = None,
        store=None,
        instance_id: str = "",
        result_wal_dir: str | None = None,
    ):
        self.spark = spark
        self.on_result = on_result
        self.store = store
        # Unpredictable id: peers authenticate pushes with an HMAC of
        # the shared metastore secret, but the id itself must still not
        # be guessable from observables like the pid (it doubles as the
        # claim-key owner in the run-dedupe protocol).
        self.instance_id = instance_id or f"inst-{_secrets.token_hex(8)}"
        self._timers: dict[str, threading.Timer] = {}
        self._contents: dict[str, str] = {}
        self._types: dict[str, str] = {}
        self._lock = threading.Lock()
        self.results: dict[str, list[TaskResult]] = {}
        # Cross-instance result broadcast (reference: the executing node
        # publishes the run result over NATS and every node's WS
        # clients see it, schedule_task.go:215-237).  Here the winner
        # records the result into the shared event log and every other
        # scheduler polls for results it didn't execute itself.
        self._poll_stop = threading.Event()
        self._poll_thread: threading.Thread | None = None
        self._base_url: str = ""
        self._seen_push_seqs: set[int] = set()
        # Outgoing-result WAL (same segment+ack design as the ingest
        # queue): a run's result is persisted locally BEFORE the shared
        # event-log record is attempted and acked only after it lands,
        # so a node dying — or a transiently unreachable store —
        # between executing a task and recording its result loses
        # nothing: the restart (or any instance adopting the dead
        # node's segment via this directory) replays the record.
        # At-least-once: replays re-record under a fresh event seq, so
        # receivers dedupe on the payload's result_uid.
        self.result_wal = None
        self._seen_result_uids: "OrderedDict[str, None]" = OrderedDict()
        if result_wal_dir and store is not None:
            from .ingest import WalIngestQueue

            self.result_wal = WalIngestQueue(result_wal_dir)
            for seq, _kind, payload, _arrival in self.result_wal.pending():
                try:
                    self.store.record("task_run_result", payload)
                except Exception:
                    break  # store still down: keep the tail for later
                self.result_wal.ack_range(seq, seq)
        if store is not None:
            try:
                self._result_cursor = store.latest_event_seq()
            except Exception:
                self._result_cursor = 0
            self._poll_thread = threading.Thread(
                target=self._poll_remote_results, daemon=True
            )
            self._poll_thread.start()

    def register(self, task_id: str, content: str) -> tuple[dt.datetime | None, str]:
        self.unregister(task_id)
        with self._lock:
            self._contents[task_id] = content
        next_run, schedule_type = get_next_task_run(self.spark, content)
        with self._lock:
            self._types[task_id] = schedule_type
        if schedule_type == "init":
            self._fire(task_id, None)
            return None, schedule_type
        if next_run is not None:
            if self.store is not None and schedule_type == "single":
                # Converge on one shared runAt across instances so the
                # claim keys agree (each instance's own clock/schedule
                # evaluation differs by milliseconds).
                effective = self.store.schedule_next_run(
                    task_id, next_run.isoformat(), schedule_type
                )
                next_run = dt.datetime.fromisoformat(effective)
            run_at_ms = int(next_run.timestamp() * 1000)
            self._arm(task_id, max(0.0, next_run.timestamp() - time.time()), run_at_ms)
        return next_run, schedule_type

    def unregister(self, task_id: str) -> None:
        with self._lock:
            t = self._timers.pop(task_id, None)
            self._contents.pop(task_id, None)
            self._types.pop(task_id, None)
        if t:
            t.cancel()

    def _arm(self, task_id: str, delay_s: float, run_at_ms: int | None) -> None:
        timer = threading.Timer(delay_s, self._fire, args=(task_id, run_at_ms))
        timer.daemon = True
        with self._lock:
            old = self._timers.pop(task_id, None)
            self._timers[task_id] = timer
        if old:
            old.cancel()
        timer.start()

    def _fire(self, task_id: str, run_at_ms: int | None) -> None:
        with self._lock:
            content = self._contents.get(task_id)
            schedule_type = self._types.get(task_id, "single")
        if content is None:
            return
        if (
            self.store is not None
            and run_at_ms is not None
            and schedule_type == "single"
        ):
            run_key = f"{task_id}-{run_at_ms}"
            if not self.store.try_claim(run_key, self.instance_id):
                # Another instance won this run; follow its recorded
                # next_run_at so this instance keeps a timer armed.
                self._arm_follow(task_id)
                return
        result = execute_task(self.spark, content)
        with self._lock:
            self.results.setdefault(task_id, []).append(result)
        if self.store is not None:
            self._record_run(task_id, result)
            self._broadcast_result(task_id, result)
        if self.on_result:
            self.on_result(task_id, result)
        if result.success and result.next_run_at > 0:
            delay = max(0.0, result.next_run_at / 1000.0 - time.time())
            self._arm(task_id, delay, result.next_run_at)

    def _arm_follow(self, task_id: str, attempt: int = 0) -> None:
        def follow():
            with self._lock:
                if task_id not in self._contents:
                    return
            run = self.store.get_task_run(task_id) if self.store else None
            nra = (run or {}).get("next_run_at")
            when = dt.datetime.fromisoformat(nra) if nra else None
            if when is None or when.timestamp() <= time.time():
                if run and run.get("last_run_at") and not nra:
                    # The winner recorded a completed cycle with no next
                    # run — a one-shot 'single' task is done; nothing to
                    # follow, drop the timer instead of polling forever.
                    with self._lock:
                        self._timers.pop(task_id, None)
                    return
                # Winner hasn't recorded the new cycle yet (still
                # executing, or died mid-run) — keep following with
                # exponential backoff so a dead winner doesn't pin a
                # 2-second timer per task indefinitely.
                self._arm_follow(task_id, attempt + 1)
                return
            self._arm(
                task_id,
                max(0.0, when.timestamp() - time.time()),
                int(when.timestamp() * 1000),
            )

        delay = min(self.FOLLOW_DELAY_S * (2 ** min(attempt, 5)), 60.0)
        timer = threading.Timer(delay, follow)
        timer.daemon = True
        with self._lock:
            old = self._timers.pop(task_id, None)
            self._timers[task_id] = timer
        if old:
            old.cancel()
        timer.start()

    def _record_run(self, task_id: str, result: TaskResult) -> None:
        def iso(ms: int) -> str | None:
            if not ms or ms <= 0:
                return None
            return dt.datetime.fromtimestamp(ms / 1000.0, dt.timezone.utc).isoformat()

        try:
            self.store.record(
                "record_task_run",
                {
                    "task_id": task_id,
                    "last_run_at": iso(result.started_at),
                    "last_run_success": result.success,
                    "last_run_duration": sum(q.duration_ms for q in result.queries),
                    "next_run_at": iso(result.next_run_at),
                    "next_run_type": result.schedule_type or "single",
                },
            )
        except Exception:
            pass

    #: seconds between polls of the shared event log for results other
    #: instances executed (their WS clients see ours the same way)
    RESULT_POLL_S = 0.5

    def _broadcast_result(self, task_id: str, result: TaskResult) -> None:
        # result rows may hold datetimes/Decimals — pre-serialize
        # with default=str (the WS push serializes the same way)
        payload = {
            "task_id": task_id,
            "instance": self.instance_id,
            # replay identity: a WAL redelivery re-records under a new
            # event seq, so receivers dedupe on this uid instead
            "result_uid": _secrets.token_hex(8),
            "result_json": json.dumps(result.to_dict(), default=str),
        }
        wal_seq = 0
        if self.result_wal is not None:
            try:
                # persist-before-record: a death (or store outage) after
                # the run but before the event-log record redelivers on
                # restart instead of losing the result
                wal_seq = self.result_wal.append(
                    "task_run_result", payload, dt.datetime.utcnow()
                )
            except Exception:
                wal_seq = 0
        try:
            seq = self.store.record("task_run_result", payload)
        except Exception:
            return  # an unreachable store must not fail the run;
            # the WAL entry stays unacked for replay
        if self.result_wal is not None and wal_seq:
            try:
                self.result_wal.ack_range(wal_seq, wal_seq)
            except Exception:
                pass
        if self._base_url:
            # push transport: deliver immediately to live peers (the
            # NATS publish of schedule_task.go:215-237); the shared-log
            # poll remains the catch-up/fallback path, so a missed or
            # failed push is only latency, never loss
            threading.Thread(
                target=self._push_to_peers,
                args=(seq, payload),
                daemon=True,
            ).start()

    # -- push transport -------------------------------------------------

    def enable_push(self, base_url: str) -> None:
        """Announce this instance's HTTP address so peers sharing the
        metastore POST results here instead of waiting out the poll
        interval. Heartbeats refresh from the poll loop."""
        self._base_url = base_url
        try:
            self.store.announce_instance(self.instance_id, base_url)
        except Exception:
            pass

    def _push_to_peers(self, seq: int, payload: dict) -> None:
        import urllib.request

        try:
            peers = self.store.live_instances(exclude=self.instance_id)
        except Exception:
            return
        body = json.dumps({"seq": seq, **payload}).encode()
        try:
            sig = push_signature(self.store, body)
        except Exception:
            return
        for _pid, url in peers:
            try:
                req = urllib.request.Request(
                    url.rstrip("/") + "/api/internal/task-result",
                    data=body,
                    headers={
                        "Content-Type": "application/json",
                        "X-Shaper-Push-Signature": sig,
                    },
                    method="POST",
                )
                urllib.request.urlopen(req, timeout=2).read()
            except Exception:
                continue  # best-effort; the poll catches up

    def receive_push(self, data: dict) -> bool:
        """Apply a peer-pushed result (the receiving half of the push
        transport). Returns True if applied; duplicates from the poll
        are suppressed via the seen-seq set.

        Replays are also bounded across restarts: a push's seq is the
        shared event-log sequence its result was recorded under, and
        ``_result_cursor`` starts at ``latest_event_seq()`` — so a
        captured signed body replayed after a receiver restart carries
        a seq at or below the startup cursor and is dropped (the
        in-memory seen-set alone forgot it).  Every event the poll has
        applied is likewise at or below the cursor, so the check also
        subsumes poll-side duplicates."""
        seq = int(data.get("seq") or 0)
        with self._lock:
            if seq and (
                seq <= self._result_cursor or seq in self._seen_push_seqs
            ):
                return False
            if seq:
                self._seen_push_seqs.add(seq)
        return self._apply_remote(data)

    def _apply_remote(self, data: dict) -> bool:
        if data.get("instance") == self.instance_id:
            return False  # our own run, already in self.results
        task_id = data.get("task_id", "")
        uid = data.get("result_uid")
        with self._lock:
            known = task_id in self._contents
            if uid is not None:
                if uid in self._seen_result_uids:
                    return False  # WAL replay re-recorded it (new seq)
                self._seen_result_uids[uid] = None
                while len(self._seen_result_uids) > 4096:
                    self._seen_result_uids.popitem(last=False)
        if not known:
            return False
        try:
            result = TaskResult.from_dict(json.loads(data["result_json"]))
        except Exception:
            return False
        with self._lock:
            self.results.setdefault(task_id, []).append(result)
        if self.on_result:
            try:
                self.on_result(task_id, result)
            except Exception:
                pass
        return True

    def _poll_remote_results(self) -> None:
        while not self._poll_stop.wait(self.RESULT_POLL_S):
            if self._base_url:
                try:  # keep the live-peer heartbeat fresh
                    self.store.announce_instance(
                        self.instance_id, self._base_url
                    )
                except Exception:
                    pass
            try:
                rows = self.store.task_results_since(self._result_cursor)
            except Exception:
                continue
            for seq, data in rows:
                # cursor and results are shared with run()'s timer
                # threads and external readers — mutate under the lock
                with self._lock:
                    self._result_cursor = max(self._result_cursor, seq)
                    if seq in self._seen_push_seqs:
                        self._seen_push_seqs.discard(seq)
                        continue  # already delivered by push
                self._apply_remote(data)

    def shutdown(self) -> None:
        self._poll_stop.set()
        if self._poll_thread is not None:
            self._poll_thread.join(timeout=2)
        if self.result_wal is not None:
            self.result_wal.close()  # next instance adopts any tail
        with self._lock:
            timers = list(self._timers.values())
            self._timers.clear()
            self._contents.clear()
            self._types.clear()
        for t in timers:
            t.cancel()


# ---------------------------------------------------------------------------
# Init SQL (reference --init-sql with getenv(); app.go:238-334)
# ---------------------------------------------------------------------------

_GETENV_RE = re.compile(r"getenv\(\s*'([^']*)'\s*\)", re.IGNORECASE)
_ENVVAR_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def run_init_sql(
    spark: SparkSession,
    init_sql: str,
    env: dict[str, str] | None = None,
) -> None:
    """Run startup SQL once per session, statement by statement as a
    task runs them (the task dialect: CREATE TYPE, CREATE SEQUENCE,
    COPY, …; variables and macros last for this script only).
    ``getenv('X')`` and ``${X}`` become string literals from the
    environment — the reference registers a getenv() scalar UDF gated
    to init-time only (duckdb.go:14-57); resolving at substitution time
    gives the same gate for free."""
    lookup = dict(os.environ)
    if env:
        lookup.update(env)

    def env_literal(name: str) -> str:
        return "'" + sqltool.escape_sql_string(lookup.get(name, "")) + "'"

    substituted = _GETENV_RE.sub(lambda m: env_literal(m.group(1)), init_sql)
    substituted = _ENVVAR_RE.sub(lambda m: env_literal(m.group(1))[1:-1], substituted)
    vars_ = _VarState()
    macros: dict[str, _Macro] = {}
    for statement in sqltool.split_sql_queries(sqltool.strip_sql_comments(substituted)):
        statement = statement.strip()
        if statement:
            _run_query(spark, statement, vars_, macros, TASK_MAX_ROWS)
