"""Analyzed-plan cache: hit/miss accounting, mutation invalidation, the
read-only gate that keeps eagerly-executed commands out of it, and the
fresh-Dataset-per-hit semantics (no stage reuse, no frozen time/seeds)."""

import time

import pytest
from pyspark.sql import functions as F

from shaper_spark import plancache
from shaper_spark.engine import _Macro, _run_query, _VarState


def _vars():
    return _VarState()


@pytest.fixture(autouse=True)
def _fresh_cache():
    plancache.bump()
    yield
    plancache.bump()


class TestPlanCache:
    def test_hit_builds_fresh_dataframe_same_results(self, spark):
        sql = "SELECT r_regionkey, count(*) AS c FROM region GROUP BY 1"
        before = plancache.stats()
        a = plancache.analyzed(spark, sql)
        b = plancache.analyzed(spark, sql)
        after = plancache.stats()
        # a hit reuses the ANALYZED PLAN but returns a fresh Dataset —
        # new QueryExecution, new shuffle IDs, so collecting b cannot
        # reuse a's computed stages
        assert b is not a
        assert after["hits"] == before["hits"] + 1
        assert sorted(tuple(r) for r in a.collect()) == sorted(
            tuple(r) for r in b.collect()
        )

    def test_hit_is_new_query_execution(self, spark):
        sql = "SELECT n_regionkey, count(*) AS c FROM nation GROUP BY 1"
        a = plancache.analyzed(spark, sql)
        b = plancache.analyzed(spark, sql)
        # distinct JVM QueryExecutions → distinct RDD lineages; the
        # analyzed plan object is shared
        assert not a._jdf.queryExecution().equals(b._jdf.queryExecution())
        assert a._jdf.queryExecution().analyzed().equals(
            b._jdf.queryExecution().analyzed()
        )

    def test_current_timestamp_refreshes_on_hits(self, spark):
        # ComputeCurrentTime runs per QueryExecution: a cache hit must
        # see the CURRENT render time, not the first render's (r5
        # advice: the old memoized-DataFrame design froze it forever)
        sql = "SELECT unix_millis(current_timestamp()) AS ts"
        t1 = plancache.analyzed(spark, sql).collect()[0]["ts"]
        time.sleep(1.05)
        t2 = plancache.analyzed(spark, sql).collect()[0]["ts"]
        assert plancache.stats()["hits"] >= 1
        assert t2 > t1

    def test_rand_bypasses_cache(self, spark):
        # rand()/uuid() seeds freeze at ANALYSIS, so such statements
        # must never be memoized — each call re-analyzes → new seed
        sql = "SELECT sum(v) AS s FROM (SELECT rand() AS v FROM range(100))"
        before = plancache.stats()
        a = plancache.analyzed(spark, sql).collect()[0]["s"]
        b = plancache.analyzed(spark, sql).collect()[0]["s"]
        after = plancache.stats()
        assert after["bypasses"] == before["bypasses"] + 2
        assert after["hits"] == before["hits"]
        assert a != b  # fresh seed per call

    def test_uuid_bypasses_cache(self, spark):
        sql = "SELECT uuid() AS u"
        a = plancache.analyzed(spark, sql).collect()[0]["u"]
        b = plancache.analyzed(spark, sql).collect()[0]["u"]
        assert a != b

    def test_rand_inside_view_is_caught(self, spark):
        # the analyzed plan inlines views, so nondeterminism hidden
        # behind a view name is still detected
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW pc_rand_v AS "
            "SELECT rand() AS v FROM range(10)"
        )
        plancache.bump()
        before = plancache.stats()["bypasses"]
        plancache.analyzed(spark, "SELECT sum(v) AS s FROM pc_rand_v")
        assert plancache.stats()["bypasses"] == before + 1
        spark.catalog.dropTempView("pc_rand_v")

    def test_tablesample_bypasses_cache(self, spark):
        sql = "SELECT count(*) AS n FROM nation TABLESAMPLE (50 PERCENT)"
        before = plancache.stats()["bypasses"]
        plancache.analyzed(spark, sql)
        assert plancache.stats()["bypasses"] == before + 1

    def test_execution_still_runs_on_every_collect(self, spark):
        spark.range(3).createOrReplaceTempView("pc_src")
        sql = "SELECT count(*) AS n FROM pc_src"
        df = plancache.analyzed(spark, sql)
        assert df.collect()[0]["n"] == 3
        spark.range(7).createOrReplaceTempView("pc_src")
        plancache.bump()
        assert plancache.analyzed(spark, sql).collect()[0]["n"] == 7

    def test_bump_invalidates(self, spark):
        sql = "SELECT 1 AS one"
        plancache.analyzed(spark, sql)
        m = plancache.stats()["misses"]
        plancache.bump()
        plancache.analyzed(spark, sql)
        assert plancache.stats()["misses"] == m + 1

    def test_capacity_is_bounded(self, spark):
        for i in range(plancache._CAPACITY + 10):
            plancache.analyzed(spark, f"SELECT {i} AS v")
        assert plancache.stats()["size"] <= plancache._CAPACITY

    def test_with_headed_insert_not_memoized_and_detected(self, spark):
        # 'WITH c AS (...) INSERT ...' has a read-only-looking head but
        # IS a command: analyzed() must execute it per call (never a
        # cache hit) and plan_is_command must flag it for the engine
        spark.sql("DROP TABLE IF EXISTS pc_withins")
        spark.sql("CREATE TABLE pc_withins (v INT) USING parquet")
        ins = "WITH c AS (SELECT 5 AS v) INSERT INTO pc_withins SELECT v FROM c"
        hits_before = plancache.stats()["hits"]
        d1 = plancache.analyzed(spark, ins)
        assert plancache.plan_is_command(d1)
        plancache.analyzed(spark, ins)
        assert spark.table("pc_withins").count() == 2  # ran BOTH times
        assert plancache.stats()["hits"] == hits_before  # never a hit
        sel = "SELECT count(*) AS n FROM pc_withins"
        assert not plancache.plan_is_command(plancache.analyzed(spark, sel))
        spark.sql("DROP TABLE pc_withins")


class TestEngineIntegration:
    def test_repeated_select_hits_cache(self, spark):
        sql = "SELECT n_name FROM nation ORDER BY n_name LIMIT 3"
        _run_query(spark, sql, _vars(), {}, 100)
        before = plancache.stats()["hits"]
        cols, rows = _run_query(spark, sql, _vars(), {}, 100)
        assert plancache.stats()["hits"] == before + 1
        assert len(rows) == 3

    def test_repeated_insert_is_not_cached_and_reexecutes(
        self, spark, tmp_path
    ):
        spark.sql("DROP TABLE IF EXISTS pc_tbl")
        spark.sql("CREATE TABLE pc_tbl (v INT) USING parquet")
        ins = "INSERT INTO pc_tbl VALUES (1)"
        _run_query(spark, ins, _vars(), {}, 100)
        _run_query(spark, ins, _vars(), {}, 100)
        assert spark.table("pc_tbl").count() == 2
        spark.sql("DROP TABLE pc_tbl")

    def test_with_headed_insert_reexecutes_and_bumps(self, spark):
        # r5 advice: a scheduled task whose DML hides behind a CTE head
        # must run on EVERY fire, and must invalidate cached SELECTs
        spark.sql("DROP TABLE IF EXISTS pc_cte_dml")
        spark.sql("CREATE TABLE pc_cte_dml (v INT) USING parquet")
        sel = "SELECT count(*) AS n FROM pc_cte_dml"
        _, rows = _run_query(spark, sel, _vars(), {}, 100)
        assert rows[0][0] == 0
        ins = (
            "WITH c AS (SELECT 7 AS v) "
            "INSERT INTO pc_cte_dml SELECT v FROM c"
        )
        _run_query(spark, ins, _vars(), {}, 100)
        _run_query(spark, ins, _vars(), {}, 100)
        # the cached count-SELECT was flushed by the CTE-headed INSERT
        _, rows = _run_query(spark, sel, _vars(), {}, 100)
        assert rows[0][0] == 2
        spark.sql("DROP TABLE pc_cte_dml")

    def test_create_temp_view_invalidates_cached_select(self, spark):
        spark.range(2).createOrReplaceTempView("pc_view_src")
        _run_query(
            spark,
            "CREATE OR REPLACE TEMP VIEW pc_v AS SELECT * FROM pc_view_src",
            _vars(),
            {},
            100,
        )
        sel = "SELECT count(*) AS n FROM pc_v"
        _, rows = _run_query(spark, sel, _vars(), {}, 100)
        assert rows[0][0] == 2
        spark.range(5).createOrReplaceTempView("pc_view_src")
        _run_query(
            spark,
            "CREATE OR REPLACE TEMP VIEW pc_v AS SELECT * FROM pc_view_src",
            _vars(),
            {},
            100,
        )
        _, rows = _run_query(spark, sel, _vars(), {}, 100)
        assert rows[0][0] == 5

    def test_dml_invalidates_cached_select(self, spark):
        spark.sql("DROP TABLE IF EXISTS pc_dml")
        spark.sql("CREATE TABLE pc_dml USING parquet AS SELECT 1 AS v")
        sel = "SELECT sum(v) AS s FROM pc_dml"
        _, rows = _run_query(spark, sel, _vars(), {}, 100)
        assert rows[0][0] == 1
        _run_query(spark, "UPDATE pc_dml SET v = 9", _vars(), {}, 100)
        _, rows = _run_query(spark, sel, _vars(), {}, 100)
        assert rows[0][0] == 9
        spark.sql("DROP TABLE pc_dml")


class TestMultiHostStaleness:
    def test_probe_flushes_on_remote_generation_change(self, spark, tmp_path):
        from shaper_spark.metastore import Metastore

        db = str(tmp_path / "meta.db")
        store = Metastore(db)
        plancache.set_staleness_probe(db, store.data_generation)
        try:
            spark.range(3).createOrReplaceTempView("pc_mh_src")
            sql = "SELECT count(*) AS n FROM pc_mh_src"
            plancache.bump()
            assert plancache.analyzed(spark, sql).collect()[0]["n"] == 3
            # "another host": a second store handle on the same file
            # mutates data and bumps the shared generation
            spark.range(9).createOrReplaceTempView("pc_mh_src")
            other = Metastore(db)
            other.bump_data_generation()
            # host A's next render sees the new data WITHOUT a local bump
            assert plancache.analyzed(spark, sql).collect()[0]["n"] == 9
        finally:
            plancache.remove_probe(db)
            spark.catalog.dropTempView("pc_mh_src")

    def test_probe_flush_advances_generation(self, spark):
        """A flush another host's token change causes counts as a
        generation step, like a local bump()."""
        token = [0]
        plancache.set_staleness_probe("pc_gen_probe", lambda: token[0])
        try:
            sql = "SELECT count(*) AS n FROM region"
            plancache.analyzed(spark, sql)
            g0 = plancache.stats()["generation"]
            plancache.analyzed(spark, sql)  # token unchanged: no flush
            assert plancache.stats()["generation"] == g0
            token[0] = 1
            plancache.analyzed(spark, sql)
            after = plancache.stats()
            assert after["generation"] == g0 + 1
            assert after["size"] == 1  # flushed, then re-memoized
        finally:
            plancache.remove_probe("pc_gen_probe")

    def test_local_bump_broadcasts_to_shared_store(self, tmp_path):
        from shaper_spark.metastore import Metastore

        db = str(tmp_path / "meta2.db")
        store = Metastore(db)
        plancache.add_bump_broadcaster(db, store.bump_data_generation)
        try:
            g0 = store.data_generation()
            plancache.bump()
            assert store.data_generation() > g0
        finally:
            plancache.remove_probe(db)


class TestConcurrency:
    def test_threaded_dashboard_renders_share_the_cache(self, spark):
        import threading

        sql = "SELECT n_regionkey, count(*) AS c FROM nation GROUP BY 1"
        plancache.bump()
        results, errors = [], []

        def render():
            try:
                _, rows = _run_query(spark, sql, _vars(), {}, 100)
                results.append(sorted(tuple(r) for r in rows))
            except Exception as e:  # pragma: no cover
                errors.append(e)

        threads = [threading.Thread(target=render) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert len({str(r) for r in results}) == 1  # all identical
        st = plancache.stats()
        assert st["size"] >= 1
        assert st["hits"] + st["misses"] >= 8
