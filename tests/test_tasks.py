"""Task executor / scheduler tests (reference server/core/run_task.go and
task_init_test.go:61-232 semantics)."""

from __future__ import annotations

import datetime as dt
import threading
import time

import pytest

from shaper_spark.sqltool import is_allowed_statement
from shaper_spark.tasks import (
    TaskScheduler,
    execute_task,
    get_next_task_run,
    is_schedule_query_candidate,
    needs_no_transaction,
    run_init_sql,
)


class TestNeedsNoTransaction:
    @pytest.mark.parametrize(
        "sql,expected",
        [
            ("ATTACH 'x.db'", True),
            ("DETACH db", True),
            ("INSTALL httpfs", True),
            ("LOAD httpfs", True),
            ("CREATE SECRET s (TYPE S3)", True),
            ("CREATE SECRETIVE_TABLE t (x INT)", False),
            ("SELECT 1", False),
            ("INSERT INTO t VALUES (1)", False),
        ],
    )
    def test_cases(self, sql, expected):
        assert needs_no_transaction(sql) is expected


class TestIsScheduleCandidate:
    @pytest.mark.parametrize(
        "sql,expected",
        [
            ("SELECT INTERVAL 1 HOUR AS s::SCHEDULE", True),
            ("WITH x AS (SELECT 1) SELECT INTERVAL 1 HOUR::SCHEDULE FROM x", True),
            ("(SELECT INTERVAL 1 HOUR::SCHEDULE)", True),
            ("SELECT 1", False),
            ("INSERT INTO t SELECT now()::SCHEDULE", False),
        ],
    )
    def test_cases(self, sql, expected):
        assert is_schedule_query_candidate(sql) is expected


def _fresh(spark, table):
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)


class TestExecuteTask:
    def test_simple_ctas_and_select(self, spark):
        _fresh(spark, "task_out")
        r = execute_task(
            spark,
            """
            CREATE TABLE task_out AS SELECT 1 AS v UNION ALL SELECT 2;
            SELECT count(*) AS n FROM task_out;
            """,
        )
        assert r.success is True
        assert r.total_queries == 2
        assert r.queries[-1].result_rows == [[2]]
        assert r.queries[-1].result_columns == ["n"]
        assert r.queries[-1].duration_ms >= 0

    def test_macro_without_temp(self, spark):
        # tasks take CREATE MACRO without TEMP; dashboards do not
        macro = "CREATE MACRO sm(a, b) AS a + b"
        r = execute_task(spark, f"{macro}; SELECT sm(1, 2) AS x")
        assert r.success, [q.error for q in r.queries]
        assert r.queries[-1].result_rows == [[3]]
        assert not is_allowed_statement(macro)

    def test_early_stop_on_false(self, spark):
        # run_task.go:195-199: a 1×1 boolean false stops execution
        _fresh(spark, "task_never")
        r = execute_task(
            spark,
            """
            SELECT 1 = 2;
            CREATE TABLE task_never AS SELECT 1 AS v;
            """,
        )
        assert r.success is True
        assert r.queries[0].stop_execution is True
        assert len(r.queries) == 1
        assert not spark.catalog.tableExists("task_never")

    def test_stop_on_error(self, spark):
        r = execute_task(
            spark,
            """
            SELECT * FROM nonexistent_table_xyz;
            SELECT 1;
            """,
        )
        assert r.success is False
        assert r.queries[0].error
        assert len(r.queries) == 1

    def test_disallowed_statement(self, spark):
        r = execute_task(spark, "PRAGMA database_list")
        assert r.success is False
        assert "not allowed" in (r.queries[0].error or "")

    def test_schedule_interval_extracted(self, spark):
        r = execute_task(
            spark,
            """
            SELECT INTERVAL 1 HOUR AS sched::SCHEDULE;
            SELECT 1 AS v;
            """,
        )
        assert r.success is True
        now_ms = int(time.time() * 1000)
        assert now_ms + 3500_000 < r.next_run_at < now_ms + 3700_000
        assert r.schedule_type == "single"
        # schedule query hidden from results; total reduced by one
        assert r.total_queries == 1
        assert len(r.queries) == 1

    def test_schedule_all(self, spark):
        r = execute_task(spark, "SELECT (now() + INTERVAL 2 HOUR)::SCHEDULE_ALL AS s")
        assert r.schedule_type == "all"
        assert r.next_run_at > int(time.time() * 1000)

    def test_schedule_init(self, spark):
        r = execute_task(spark, "SELECT 'init'::SCHEDULE AS s")
        assert r.next_run_at == -1
        assert r.schedule_type == "all"  # init broadcasts (run_task.go:208-212)

    def test_multiple_schedules_error(self, spark):
        r = execute_task(
            spark,
            """
            SELECT INTERVAL 1 HOUR AS a::SCHEDULE;
            SELECT INTERVAL 2 HOUR AS b::SCHEDULE;
            """,
        )
        assert r.success is False
        assert "Multiple SCHEDULE" in (r.queries[-1].error or "")

    def test_insert_update_delete_roundtrip(self, spark):
        # Task-only DML surface (sql_validation.go:179-275; reference
        # tasks run arbitrary DML on DuckDB, run_task.go:67-258).
        # UPDATE/DELETE execute via the copy-on-write rewrite in dml.py.
        _fresh(spark, "task_dml")
        r = execute_task(
            spark,
            """
            CREATE TABLE task_dml (v INT, tag STRING);
            INSERT INTO task_dml VALUES (1, 'a'), (2, 'b'), (3, 'c');
            UPDATE task_dml SET v = v * 10 WHERE tag <> 'a';
            DELETE FROM task_dml WHERE v = 30;
            SELECT sum(v) AS s, count(*) AS n FROM task_dml;
            """,
        )
        assert r.success is True
        # UPDATE reports 2 affected, DELETE reports 1 affected
        assert r.queries[2].result_columns == ["Count"]
        assert r.queries[2].result_rows == [[2]]
        assert r.queries[3].result_rows == [[1]]
        # survivors: v=1 (untouched) and v=20 (updated)
        assert r.queries[-1].result_rows == [[21, 2]]

    def test_update_without_where_and_full_delete(self, spark):
        _fresh(spark, "task_dml2")
        r = execute_task(
            spark,
            """
            CREATE TABLE task_dml2 (v INT);
            INSERT INTO task_dml2 VALUES (1), (2);
            UPDATE task_dml2 SET v = v + 1;
            SELECT sum(v) AS s FROM task_dml2;
            DELETE FROM task_dml2;
            SELECT count(*) AS n FROM task_dml2;
            """,
        )
        assert r.success is True
        assert r.queries[3].result_rows == [[5]]
        assert r.queries[4].result_rows == [[2]]
        assert r.queries[5].result_rows == [[0]]

    def test_update_expression_with_commas_and_null_where(self, spark):
        _fresh(spark, "task_dml3")
        r = execute_task(
            spark,
            """
            CREATE TABLE task_dml3 (v INT, w INT);
            INSERT INTO task_dml3 VALUES (1, NULL), (2, 5);
            UPDATE task_dml3 SET v = greatest(v, 10, coalesce(w, 0)), w = 0 WHERE w > 3;
            SELECT v, w FROM task_dml3 ORDER BY v;
            """,
        )
        assert r.success is True
        # NULL where-condition rows are untouched (NOT NULL → kept as-is)
        assert r.queries[2].result_rows == [[1]]
        assert r.queries[-1].result_rows == [[1, None], [10, 0]]


    def test_update_list_literal_with_commas(self, spark):
        # the SET list splits at top-level commas only, not inside [...]
        _fresh(spark, "task_dml4")
        r = execute_task(
            spark,
            """
            CREATE TABLE task_dml4 (id INT, n INT, tags ARRAY<INT>);
            INSERT INTO task_dml4 VALUES (1, 1, array(1)), (2, 2, array(2));
            UPDATE task_dml4 SET n = 4, tags = [5, 6] WHERE id = 1;
            SELECT id, n, tags FROM task_dml4 ORDER BY id;
            """,
        )
        assert r.success is True
        assert r.queries[2].result_rows == [[1]]
        assert r.queries[-1].result_rows == [[1, 4, [5, 6]], [2, 2, [2]]]

class TestGetNextTaskRun:
    def test_interval_schedule(self, spark):
        next_run, stype = get_next_task_run(
            spark, "SELECT INTERVAL 1 HOUR AS s::SCHEDULE; SELECT 1;"
        )
        assert stype == "single"
        delta = next_run - dt.datetime.now(dt.timezone.utc)
        assert dt.timedelta(minutes=59) < delta < dt.timedelta(minutes=61)

    def test_init_schedule(self, spark):
        next_run, stype = get_next_task_run(spark, "SELECT 'init'::SCHEDULE AS s")
        assert next_run is None
        assert stype == "init"

    def test_no_schedule(self, spark):
        next_run, stype = get_next_task_run(spark, "SELECT 1 AS v")
        assert next_run is None
        assert stype == "single"


class TestScheduler:
    def test_init_task_runs_immediately(self, spark):
        _fresh(spark, "sched_init_out")
        sched = TaskScheduler(spark)
        try:
            _, stype = sched.register(
                "t1",
                """
                SELECT 'init'::SCHEDULE AS s;
                CREATE TABLE sched_init_out AS SELECT 42 AS v;
                """,
            )
            assert stype == "init"
            assert [r.v for r in spark.table("sched_init_out").collect()] == [42]
            assert sched.results["t1"][0].success
        finally:
            sched.shutdown()

    def test_timer_fires_and_reschedules(self, spark):
        _fresh(spark, "sched_tick")
        spark.sql("CREATE TABLE sched_tick (t TIMESTAMP)")
        sched = TaskScheduler(spark)
        try:
            next_run, stype = sched.register(
                "t2",
                """
                SELECT (now() + INTERVAL 1 SECOND)::SCHEDULE AS s;
                INSERT INTO sched_tick VALUES (now());
                """,
            )
            assert stype == "single"
            assert next_run is not None
            deadline = time.time() + 15
            while time.time() < deadline:
                if spark.table("sched_tick").count() >= 2:
                    break
                time.sleep(0.5)
            assert spark.table("sched_tick").count() >= 2  # fired + rescheduled
        finally:
            sched.shutdown()

    def test_unregister_cancels(self, spark):
        sched = TaskScheduler(spark)
        try:
            sched.register(
                "t3", "SELECT (now() + INTERVAL 1 HOUR)::SCHEDULE AS s; SELECT 1;"
            )
            sched.unregister("t3")
            assert "t3" not in sched._timers
        finally:
            sched.shutdown()


class TestInitSQL:
    def test_getenv_and_envvar_substitution(self, spark, monkeypatch):
        monkeypatch.setenv("SHAPER_TEST_VAL", "hello-env")
        run_init_sql(
            spark,
            """
            CREATE OR REPLACE TEMPORARY VIEW init_env AS
            SELECT getenv('SHAPER_TEST_VAL') AS a, '${SHAPER_TEST_VAL}' AS b;
            """,
        )
        row = spark.table("init_env").collect()[0]
        assert row.a == "hello-env"
        assert row.b == "hello-env"

    def test_missing_env_is_empty_string(self, spark):
        run_init_sql(
            spark,
            "CREATE OR REPLACE TEMPORARY VIEW init_env2 AS "
            "SELECT getenv('DOES_NOT_EXIST_XYZ') AS a",
        )
        assert spark.table("init_env2").collect()[0].a == ""

    def test_enum_type_in_init_sql(self, spark):
        run_init_sql(
            spark,
            "DROP TYPE IF EXISTS init_mood;"
            "CREATE TYPE init_mood AS ENUM ('sad', 'ok');",
        )
        try:
            r = execute_task(spark, "SELECT enum_last(NULL::init_mood) AS l;")
            assert r.success and r.queries[0].result_rows == [["ok"]]
        finally:
            execute_task(spark, "DROP TYPE IF EXISTS init_mood;")

    def test_sequence_in_init_sql(self, spark):
        run_init_sql(
            spark,
            "DROP SEQUENCE IF EXISTS init_seq;"
            "CREATE SEQUENCE init_seq START 5;",
        )
        try:
            r = execute_task(spark, "SELECT nextval('init_seq') AS v;")
            assert r.success and r.queries[0].result_rows == [[5]]
        finally:
            execute_task(spark, "DROP SEQUENCE IF EXISTS init_seq;")


class TestMultiInstanceDedupe:
    """All instances schedule every task; a shared-metastore claim with
    key taskId-runAtMillis dedupes 'single' runs to one executor —
    the reference's NATS MsgID semantics (schedule_task.go:211-237)."""

    def test_single_run_claimed_once(self, spark, tmp_path):
        from shaper_spark.metastore import Metastore

        _fresh(spark, "dedupe_tick")
        spark.sql("CREATE TABLE dedupe_tick (t TIMESTAMP)")
        store = Metastore(str(tmp_path / "meta.db"))
        content = """
        SELECT (now() + INTERVAL 2 SECOND)::SCHEDULE AS s;
        INSERT INTO dedupe_tick VALUES (now());
        """
        a = TaskScheduler(spark, store=store, instance_id="a")
        b = TaskScheduler(spark, store=store, instance_id="b")
        try:
            ra, sa = a.register("dt", content)
            rb, sb = b.register("dt", content)
            assert sa == sb == "single"
            # wait for the first scheduled fire on both instances
            deadline = time.time() + 20
            while time.time() < deadline:
                if spark.table("dedupe_tick").count() >= 1:
                    break
                time.sleep(0.5)
            time.sleep(2.0)  # give the loser time to (wrongly) fire too
            n_rows = spark.table("dedupe_tick").count()
            total_results = len(a.results.get("dt", [])) + len(
                b.results.get("dt", [])
            )
            # However many cycles elapsed, rows == EXECUTED runs (the
            # claim dedupe), while each instance additionally SEES the
            # other's runs via the result broadcast — so the result
            # lists across both instances hold between n (broadcast
            # still in flight) and 2n entries, never more (no
            # double-execution, no self-re-ingestion).
            assert n_rows >= 1
            assert n_rows <= total_results <= 2 * n_rows
            claims = store._db.execute(
                "SELECT count(*) FROM task_claims"
            ).fetchone()[0]
            # every EXECUTED row is backed by exactly one claim (the
            # dedupe invariant: rows never exceed claims); the newest
            # claim may still be mid-execution when we sample under
            # full-suite CPU contention, so allow one in-flight run
            assert n_rows <= claims <= n_rows + 1
        finally:
            a.shutdown()
            b.shutdown()
            store.close()

    def test_claim_is_first_write_wins(self, tmp_path):
        from shaper_spark.metastore import Metastore

        store = Metastore(str(tmp_path / "claims.db"))
        assert store.try_claim("t1-1000", "a") is True
        assert store.try_claim("t1-1000", "b") is False
        assert store.try_claim("t1-2000", "b") is True
        store.close()

    def test_loser_follows_winner_schedule(self, spark, tmp_path):
        from shaper_spark.metastore import Metastore

        _fresh(spark, "follow_tick")
        spark.sql("CREATE TABLE follow_tick (t TIMESTAMP)")
        store = Metastore(str(tmp_path / "meta2.db"))
        content = """
        SELECT (now() + INTERVAL 1 SECOND)::SCHEDULE AS s;
        INSERT INTO follow_tick VALUES (now());
        """
        a = TaskScheduler(spark, store=store, instance_id="a")
        b = TaskScheduler(spark, store=store, instance_id="b")
        a.FOLLOW_DELAY_S = 0.5
        b.FOLLOW_DELAY_S = 0.5
        try:
            a.register("ft", content)
            b.register("ft", content)
            deadline = time.time() + 25
            while time.time() < deadline:
                if spark.table("follow_tick").count() >= 3:
                    break
                time.sleep(0.5)
            # at least 3 cycles ran; both instances stayed armed the
            # whole time (a timer exists on each)
            assert spark.table("follow_tick").count() >= 3
            assert "ft" in a._timers and "ft" in b._timers
        finally:
            a.shutdown()
            b.shutdown()
            store.close()


class TestGetNextTaskRunSideEffects:
    """task_init_test.go:154-188 — schedule probing must not execute the
    task's non-schedule statements."""

    def test_does_not_execute_non_schedule_statements(self, spark):
        _fresh(spark, "side_effect_check")
        next_run, stype = get_next_task_run(
            spark,
            """
            CREATE TABLE side_effect_check (val INT);
            INSERT INTO side_effect_check VALUES (99);
            """,
        )
        assert next_run is None
        assert stype == "single"
        assert not spark.catalog.tableExists("side_effect_check")

    def test_finds_schedule_not_first_statement(self, spark):
        _fresh(spark, "dummy_table")
        next_run, stype = get_next_task_run(
            spark,
            """
            CREATE TABLE dummy_table (val INT);
            SELECT 'init'::SCHEDULE;
            INSERT INTO dummy_table VALUES (1);
            """,
        )
        assert next_run is None
        assert stype == "init"
        assert not spark.catalog.tableExists("dummy_table")


class TestFollowStops:
    """ADVICE: a claim loser must not poll forever once the winner
    records a completed one-shot cycle with no next run."""

    def test_follow_drops_timer_after_completed_oneshot(self, tmp_path):
        from shaper_spark.metastore import Metastore

        store = Metastore(str(tmp_path / "meta3.db"))
        sched = TaskScheduler.__new__(TaskScheduler)
        sched.store = store
        sched.FOLLOW_DELAY_S = 0.1
        sched._lock = threading.Lock()
        sched._contents = {"os": "SELECT 1"}
        sched._types = {"os": "single"}
        sched._timers = {}
        # Winner recorded a completed cycle: last_run_at set, no next run.
        store.record(
            "record_task_run",
            {"task_id": "os", "last_run_at": "2026-01-01T00:00:00+00:00",
             "last_run_success": True, "next_run_at": None},
        )
        sched._arm_follow("os")
        deadline = time.time() + 5
        while time.time() < deadline and "os" in sched._timers:
            time.sleep(0.05)
        # The follow timer fired once, saw the completed cycle, and did
        # NOT re-arm — no permanent polling loop.
        time.sleep(0.3)
        assert "os" not in sched._timers
        store.close()

    def test_follow_backs_off_while_winner_executing(self, tmp_path):
        from shaper_spark.metastore import Metastore

        store = Metastore(str(tmp_path / "meta4.db"))
        sched = TaskScheduler.__new__(TaskScheduler)
        sched.store = store
        sched.FOLLOW_DELAY_S = 0.05
        sched._lock = threading.Lock()
        sched._contents = {"ex": "SELECT 1"}
        sched._types = {"ex": "single"}
        sched._timers = {}
        # No run record at all: winner still executing — follow re-arms
        # (with backoff), keeping a timer alive.
        sched._arm_follow("ex")
        time.sleep(0.5)
        assert "ex" in sched._timers
        # Timer interval grows with attempts (exponential backoff).
        t = sched._timers["ex"]
        assert t.interval > sched.FOLLOW_DELAY_S
        t.cancel()
        store.close()


class TestDmlQuotedTarget:
    def test_update_delete_on_backtick_quoted_table(self, spark):
        """ADVICE: staging-name derivation must strip the backticks so
        `t`__dml_staging never appears as a malformed identifier.  (The
        catalog only permits [A-Za-z0-9_] names, so the quoted form of a
        plain name is the reachable case.)"""
        _fresh(spark, "dml_quoted")
        r = execute_task(
            spark,
            """
            CREATE TABLE dml_quoted (v INT);
            INSERT INTO dml_quoted VALUES (1), (2), (3);
            UPDATE `dml_quoted` SET v = v * 10 WHERE v > 1;
            DELETE FROM `dml_quoted` WHERE v = 30;
            SELECT sum(v) AS s, count(*) AS n FROM dml_quoted;
            """,
        )
        assert r.success is True, [q.to_dict() for q in r.queries]
        assert r.queries[2].result_rows == [[2]]
        assert r.queries[3].result_rows == [[1]]
        assert r.queries[-1].result_rows == [[21, 2]]


class TestCopyTo:
    def test_copy_table_to_parquet(self, spark, tmp_path):
        from shaper_spark.tasks import execute_task

        spark.sql("DROP TABLE IF EXISTS cp_src")
        spark.sql(
            "CREATE TABLE cp_src USING parquet AS "
            "SELECT id AS v FROM range(7)"
        )
        path = str(tmp_path / "out.parquet")
        result = execute_task(
            spark, f"COPY cp_src TO '{path}' (FORMAT parquet);"
        )
        assert result.success, [q.error for q in result.queries]
        q = result.queries[0]
        assert q.result_columns == ["Count"] and q.result_rows == [[7]]
        import os

        assert os.path.isfile(path)  # a FILE at the exact path
        assert spark.read.parquet(path).count() == 7
        spark.sql("DROP TABLE cp_src")

    def test_copy_query_to_csv_with_options(self, spark, tmp_path):
        from shaper_spark.tasks import execute_task

        path = str(tmp_path / "out.csv")
        result = execute_task(
            spark,
            f"COPY (SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y') "
            f"TO '{path}' (FORMAT csv, HEADER, DELIMITER '|');",
        )
        assert result.success, [q.error for q in result.queries]
        assert result.queries[0].result_rows == [[2]]
        text = open(path).read()
        assert text.splitlines()[0] == "a|b"
        assert "1|x" in text and "2|y" in text

    def test_copy_format_from_extension(self, spark, tmp_path):
        from shaper_spark.tasks import execute_task

        path = str(tmp_path / "rows.jsonl")
        result = execute_task(
            spark, f"COPY (SELECT 5 AS k) TO '{path}';"
        )
        assert result.success, [q.error for q in result.queries]
        import json

        assert json.loads(open(path).read().strip()) == {"k": 5}

    def test_copy_dialect_query(self, spark, tmp_path):
        # the inner query goes through the rewriter (count(), etc.)
        from shaper_spark.tasks import execute_task

        path = str(tmp_path / "agg.parquet")
        result = execute_task(
            spark,
            "COPY (SELECT count() AS n FROM (VALUES (1), (2), (3)) v(x)) "
            f"TO '{path}';",
        )
        assert result.success, [q.error for q in result.queries]
        assert spark.read.parquet(path).first().n == 3

    def test_dashboard_gate_rejects_copy(self, spark):
        from shaper_spark.sqltool import (
            is_allowed_statement,
            is_allowed_task_statement,
        )

        assert not is_allowed_statement("COPY t TO 'f.parquet'")
        assert is_allowed_task_statement("COPY t TO 'f.parquet'")

    def test_bad_format_errors(self, spark, tmp_path):
        from shaper_spark.tasks import execute_task

        result = execute_task(
            spark,
            f"COPY (SELECT 1) TO '{tmp_path}/x.bin' (FORMAT avro);",
        )
        assert not result.success


class TestCopyFrom:
    def test_roundtrip_copy_to_then_from(self, spark, tmp_path):
        from shaper_spark.tasks import execute_task

        spark.sql("DROP TABLE IF EXISTS cpf_t")
        spark.sql(
            "CREATE TABLE cpf_t USING parquet AS "
            "SELECT id AS v, CAST(id AS STRING) AS s FROM range(5)"
        )
        path = str(tmp_path / "dump.parquet")
        r1 = execute_task(spark, f"COPY cpf_t TO '{path}';")
        assert r1.success, [q.error for q in r1.queries]
        r2 = execute_task(spark, f"COPY cpf_t FROM '{path}';")
        assert r2.success, [q.error for q in r2.queries]
        assert r2.queries[0].result_rows == [[5]]
        assert spark.table("cpf_t").count() == 10
        spark.sql("DROP TABLE cpf_t")

    def test_csv_from_with_header(self, spark, tmp_path):
        from shaper_spark.tasks import execute_task

        spark.sql("DROP TABLE IF EXISTS cpf_c")
        spark.sql("CREATE TABLE cpf_c (a INT, b STRING) USING parquet")
        p = tmp_path / "in.csv"
        p.write_text("b;a\nx;1\ny;2\n")  # shuffled column order
        r = execute_task(
            spark, f"COPY cpf_c FROM '{p}' (FORMAT csv, DELIMITER ';');"
        )
        assert r.success, [q.error for q in r.queries]
        rows = sorted(tuple(x) for x in spark.table("cpf_c").collect())
        assert rows == [(1, "x"), (2, "y")]  # matched BY NAME
        spark.sql("DROP TABLE cpf_c")

    def test_missing_column_errors(self, spark, tmp_path):
        from shaper_spark.tasks import execute_task

        spark.sql("DROP TABLE IF EXISTS cpf_m")
        spark.sql("CREATE TABLE cpf_m (a INT, z INT) USING parquet")
        p = tmp_path / "in2.csv"
        p.write_text("a\n1\n")
        r = execute_task(spark, f"COPY cpf_m FROM '{p}' (FORMAT csv);")
        assert not r.success
        spark.sql("DROP TABLE cpf_m")


class TestTaskDmlForms:
    """r10 batch-11: the DuckDB task-DML forms the probe found missing
    — differential-tested against DuckDB."""

    def test_create_or_replace_table(self, spark):
        from shaper_spark.tasks import execute_task

        r = execute_task(
            spark,
            "CREATE OR REPLACE TABLE corepl1 AS SELECT 1 AS x;"
            "CREATE OR REPLACE TABLE corepl1 AS SELECT 2 AS x;"
            "SELECT x FROM corepl1;",
        )
        assert r.success, [q.error for q in r.queries]
        assert r.queries[-1].result_rows == [[2]]

    def test_insert_by_name_and_returning(self, spark):
        from shaper_spark.tasks import execute_task

        r = execute_task(
            spark,
            "CREATE OR REPLACE TABLE tbn1 (a INT, b VARCHAR);"
            "INSERT INTO tbn1 BY NAME SELECT 'x' AS b, 1 AS a;"
            "INSERT INTO tbn1 VALUES (2, 'y') RETURNING a, upper(b) AS u;"
            "SELECT * FROM tbn1 ORDER BY a;",
        )
        assert r.success, [q.error for q in r.queries]
        assert r.queries[2].result_rows == [[2, "Y"]]
        assert r.queries[3].result_rows == [[1, "x"], [2, "y"]]

    def test_update_from_and_delete_using(self, spark):
        from shaper_spark.tasks import execute_task

        r = execute_task(
            spark,
            "CREATE OR REPLACE TABLE tuf1 (k INT, v INT);"
            "INSERT INTO tuf1 VALUES (1, 10), (2, 20);"
            "CREATE OR REPLACE TABLE tuf2 (k INT, nv INT);"
            "INSERT INTO tuf2 VALUES (1, 99);"
            "UPDATE tuf1 SET v = tuf2.nv FROM tuf2 WHERE tuf1.k = tuf2.k;"
            "DELETE FROM tuf1 USING tuf2 WHERE tuf1.k = tuf2.k AND tuf1.v = 99;"
            "SELECT * FROM tuf1 ORDER BY k;",
        )
        assert r.success, [q.error for q in r.queries]
        assert r.queries[4].result_rows == [[1]]  # one row updated
        assert r.queries[5].result_rows == [[1]]  # one row deleted
        assert r.queries[6].result_rows == [[2, 20]]

    def test_truncate_and_rename_column(self, spark):
        from shaper_spark.tasks import execute_task

        r = execute_task(
            spark,
            "CREATE OR REPLACE TABLE ttr1 AS SELECT 1 AS old_c;"
            "ALTER TABLE ttr1 RENAME COLUMN old_c TO new_c;"
            "SELECT new_c FROM ttr1;"
            "TRUNCATE ttr1;"
            "SELECT count(*) AS c FROM ttr1;",
        )
        assert r.success, [q.error for q in r.queries]
        assert r.queries[2].result_rows == [[1]]
        assert r.queries[4].result_rows == [[0]]

    def test_primary_key_stripped_and_or_replace_named_error(self, spark):
        from shaper_spark.tasks import execute_task

        r = execute_task(
            spark,
            "CREATE OR REPLACE TABLE tpk1 (k INT PRIMARY KEY, v INT);"
            "INSERT OR REPLACE INTO tpk1 VALUES (1, 10);",
        )
        assert not r.success
        assert r.queries[0].error is None  # PK declaration stripped
        assert "enforced keys" in (r.queries[1].error or "")


class TestTransactionDivergence:
    """r13 closes the r12-documented divergence: mutating scripts —
    single- AND multi-table — get the reference's whole-script
    rollback (run_task.go:67-258) via per-table _TableTxGuard
    backup/restore under _ScriptTxGuard.  The remaining documented
    divergence is scripts containing a table RENAME (target identity
    shifts mid-script) and snapshot-failure degradation, both of which
    fall back to per-statement atomicity."""

    def test_single_table_mid_script_failure_rolls_back(self, spark):
        # r12 verdict task 8: the table did not exist before the
        # script → a mid-script failure removes it entirely, exactly
        # the reference's transaction rollback
        spark.sql("DROP TABLE IF EXISTS tx_probe")
        r = execute_task(
            spark,
            """
            CREATE OR REPLACE TABLE tx_probe AS SELECT 1 AS v;
            INSERT INTO tx_probe VALUES (2);
            SELECT raise_error('boom');
            INSERT INTO tx_probe VALUES (3);
            """,
        )
        assert not r.success
        assert not spark.catalog.tableExists("tx_probe")

    def test_single_table_rollback_restores_prior_rows(self, spark):
        spark.sql("DROP TABLE IF EXISTS tx_probe")
        execute_task(
            spark, "CREATE OR REPLACE TABLE tx_probe AS SELECT 1 AS v;"
        )
        r = execute_task(
            spark,
            """
            INSERT INTO tx_probe VALUES (2);
            INSERT INTO tx_probe VALUES (3);
            SELECT raise_error('boom');
            """,
        )
        assert not r.success
        # the reference rolls the whole script back: only the
        # pre-script row survives
        vals = sorted(
            x.v for x in spark.sql("SELECT v FROM tx_probe").collect()
        )
        assert vals == [1]
        # the backup staging table never leaks
        assert not spark.catalog.tableExists("tx_probe__tx_backup")
        spark.sql("DROP TABLE IF EXISTS tx_probe")

    def test_single_table_success_drops_backup(self, spark):
        spark.sql("DROP TABLE IF EXISTS tx_probe")
        r = execute_task(
            spark,
            """
            CREATE OR REPLACE TABLE tx_probe AS SELECT 1 AS v;
            INSERT INTO tx_probe VALUES (2);
            SELECT count(*) FROM tx_probe;
            """,
        )
        assert r.success
        vals = sorted(
            x.v for x in spark.sql("SELECT v FROM tx_probe").collect()
        )
        assert vals == [1, 2]
        assert not spark.catalog.tableExists("tx_probe__tx_backup")
        spark.sql("DROP TABLE IF EXISTS tx_probe")

    def test_multi_table_failure_rolls_both_back(self, spark):
        # r13: multi-table scripts get the reference's whole-script
        # rollback too — both tables created mid-script vanish on
        # failure, exactly run_task.go's transaction abort
        spark.sql("DROP TABLE IF EXISTS tx_a")
        spark.sql("DROP TABLE IF EXISTS tx_b")
        r = execute_task(
            spark,
            """
            CREATE OR REPLACE TABLE tx_a AS SELECT 1 AS v;
            CREATE OR REPLACE TABLE tx_b AS SELECT 2 AS v;
            SELECT raise_error('boom');
            """,
        )
        assert not r.success
        assert not spark.catalog.tableExists("tx_a")
        assert not spark.catalog.tableExists("tx_b")

    def test_multi_table_rollback_restores_prior_rows(self, spark):
        # pre-existing tables are restored to their pre-script rows;
        # no backup staging table leaks
        spark.sql("DROP TABLE IF EXISTS tx_a")
        spark.sql("DROP TABLE IF EXISTS tx_b")
        execute_task(spark, "CREATE OR REPLACE TABLE tx_a AS SELECT 1 AS v;")
        execute_task(spark, "CREATE OR REPLACE TABLE tx_b AS SELECT 10 AS v;")
        r = execute_task(
            spark,
            """
            INSERT INTO tx_a VALUES (2);
            INSERT INTO tx_b VALUES (20);
            SELECT raise_error('boom');
            """,
        )
        assert not r.success
        assert [x.v for x in spark.sql("SELECT v FROM tx_a").collect()] == [1]
        assert [x.v for x in spark.sql("SELECT v FROM tx_b").collect()] == [10]
        assert not spark.catalog.tableExists("tx_a__tx_backup")
        assert not spark.catalog.tableExists("tx_b__tx_backup")
        spark.sql("DROP TABLE IF EXISTS tx_a")
        spark.sql("DROP TABLE IF EXISTS tx_b")

    def test_multi_table_success_drops_backups(self, spark):
        spark.sql("DROP TABLE IF EXISTS tx_a")
        spark.sql("DROP TABLE IF EXISTS tx_b")
        r = execute_task(
            spark,
            """
            CREATE OR REPLACE TABLE tx_a AS SELECT 1 AS v;
            CREATE OR REPLACE TABLE tx_b AS SELECT 2 AS v;
            INSERT INTO tx_a VALUES (3);
            SELECT count(*) FROM tx_a;
            """,
        )
        assert r.success
        assert sorted(
            x.v for x in spark.sql("SELECT v FROM tx_a").collect()
        ) == [1, 3]
        assert [x.v for x in spark.sql("SELECT v FROM tx_b").collect()] == [2]
        assert not spark.catalog.tableExists("tx_a__tx_backup")
        assert not spark.catalog.tableExists("tx_b__tx_backup")
        spark.sql("DROP TABLE IF EXISTS tx_a")
        spark.sql("DROP TABLE IF EXISTS tx_b")

    def test_rename_script_keeps_per_statement_divergence(self, spark):
        # the REMAINING documented divergence: a RENAME shifts target
        # identity mid-script, so the guard stands down — statements
        # before the failure stay committed
        spark.sql("DROP TABLE IF EXISTS tx_r1")
        spark.sql("DROP TABLE IF EXISTS tx_r2")
        r = execute_task(
            spark,
            """
            CREATE OR REPLACE TABLE tx_r1 AS SELECT 1 AS v;
            ALTER TABLE tx_r1 RENAME TO tx_r2;
            SELECT raise_error('boom');
            """,
        )
        assert not r.success
        assert spark.catalog.tableExists("tx_r2")
        spark.sql("DROP TABLE IF EXISTS tx_r1")
        spark.sql("DROP TABLE IF EXISTS tx_r2")

    def test_failed_statement_is_atomic(self, spark):
        # the failing UPDATE itself leaves the table untouched (CoW
        # staging completes before any destructive change)
        spark.sql("DROP TABLE IF EXISTS tx_probe2")
        execute_task(
            spark,
            "CREATE OR REPLACE TABLE tx_probe2 AS "
            "SELECT * FROM (VALUES (1), (2)) t(v);",
        )
        r = execute_task(
            spark,
            "UPDATE tx_probe2 SET v = raise_error('mid-write');",
        )
        assert not r.success
        vals = sorted(
            x.v for x in spark.sql("SELECT v FROM tx_probe2").collect()
        )
        assert vals == [1, 2]
        spark.sql("DROP TABLE IF EXISTS tx_probe2")

    def test_staging_swap_pattern_is_all_or_nothing(self, spark):
        # the MIGRATION.md-documented workaround: stage, then flip as
        # the last statement — a failure before the flip leaves the
        # live table untouched
        spark.sql("DROP TABLE IF EXISTS tx_live")
        execute_task(
            spark,
            "CREATE OR REPLACE TABLE tx_live AS SELECT 'old' AS v;",
        )
        r = execute_task(
            spark,
            """
            CREATE OR REPLACE TABLE tx_live_staging AS SELECT 'new' AS v;
            SELECT raise_error('pre-flip failure');
            CREATE OR REPLACE TABLE tx_live AS FROM tx_live_staging;
            """,
        )
        assert not r.success
        assert spark.sql("SELECT v FROM tx_live").collect()[0].v == "old"
        spark.sql("DROP TABLE IF EXISTS tx_live")
        spark.sql("DROP TABLE IF EXISTS tx_live_staging")
