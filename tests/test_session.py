"""Session robustness: the correctness driver passes a vanilla
SparkSession (no builder confs) into ``__spark_entry__`` — round 1's
0/50 came from events.parquet's TIMESTAMP(NANOS) column failing to
register on such a session. These tests pin both defense layers:
``configure_runtime`` (runtime conf application) and the pyarrow
ns→us fallback in ``load_parquet``.
"""

import os

from shaper_spark.session import (
    _ns_to_us_cached,
    configure_runtime,
    load_parquet,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def test_configure_runtime_sets_required_confs(spark):
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        configure_runtime(spark)
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        configure_runtime(spark)


def test_load_parquet_falls_back_without_nanos_conf(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        df = load_parquet(spark, EVENTS)
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() > 0
    finally:
        configure_runtime(spark)


def test_fallback_and_conf_paths_agree(spark):
    via_conf = load_parquet(spark, EVENTS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        via_fallback = load_parquet(spark, EVENTS)
        a = sorted(via_conf.select("event_id", "ts").collect())
        b = sorted(via_fallback.select("event_id", "ts").collect())
        assert a == b
    finally:
        configure_runtime(spark)


def test_ns_to_us_cache_idempotent():
    first = _ns_to_us_cached(EVENTS)
    second = _ns_to_us_cached(EVENTS)
    assert first == second
    assert os.path.exists(first)


def test_prep_on_vanilla_like_session(spark, sf_dir):
    """Simulate the driver: strip the nanos conf from a session, then run
    a queries() entry touching events through __spark_entry__."""
    import __spark_entry__ as entry

    clone = spark.newSession()
    clone.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    # force a fresh _prep for this clone
    entry._REGISTERED.discard((id(clone), sf_dir))
    df = entry.queries()["events_hourly"](clone, sf_dir)
    assert df.count() > 0
    assert clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


class TestInteractiveProfile:
    def test_child_shares_context_own_conf(self, spark):
        from shaper_spark.session import interactive_session

        child = interactive_session(spark)
        assert child is not spark
        assert child.sparkContext is spark.sparkContext
        assert child.conf.get("spark.sql.adaptive.enabled") == "false"
        # the batch parent keeps AQE (the 100 TB skew story)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        # engine-required runtime confs propagated to the child
        assert child.conf.get("spark.sql.session.timeZone") == "UTC"

    def test_child_plans_without_aqe(self, spark):
        from shaper_spark.session import interactive_session

        child = interactive_session(spark)
        plan = (
            child.sql("SELECT id % 3 AS k, count(*) c FROM range(100) GROUP BY 1")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "AdaptiveSparkPlan" not in plan

    def test_operator_entry_serves_from_interactive_profile(
        self, spark, sf_dir
    ):
        """A wrapped operator queries() entry (not _sql/_dialect) must
        execute on the AQE-off serving child: its session is a child,
        its executed plan has no AdaptiveSparkPlan node, and _prep on
        the child must not have re-enabled AQE."""
        import __spark_entry__ as entry

        df = entry.queries()["text_token_stats"](spark, sf_dir)
        sess = df.sparkSession
        assert id(sess) in entry._CHILD_IDS
        assert sess.conf.get("spark.sql.adaptive.enabled") == "false"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" not in plan

    def test_entry_child_keeps_shared_exchanges(self, spark, sf_dir):
        """tf-idf and DSIR share the corpus explode between plan branches
        through a ReusedExchange, which a one-stage view has no exchange
        for: on the child the operator entries run on, both still do."""
        import __spark_entry__ as entry
        from shaper_spark.operators.sampling import dsir_importance_weights
        from shaper_spark.operators.text import tfidf_top_terms

        entry._prep(spark, sf_dir)
        docs = entry._serving(spark).table("documents")
        for df in (
            tfidf_top_terms(docs, "doc_id", "text"),
            dsir_importance_weights(
                docs, "doc_id", "text", "source", "src0", n_buckets=64
            ),
        ):
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("ReusedExchange") >= 1
            assert plan.count("Generate") == 1


class TestOneSplitViews:
    """On a dashboard-serving session, register_sf_tables registers a
    table Spark scans as one partition as coalesce(1) of the scan, so its
    aggregates plan as one stage."""

    @staticmethod
    def _plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_one_row_group_view_aggregates_without_exchange(
        self, spark, sf_dir
    ):
        from shaper_spark.session import interactive_session, register_sf_tables

        child = interactive_session(spark)  # own temp views
        register_sf_tables(child, sf_dir)
        sql = (
            "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top "
            "FROM orders WHERE o_orderstatus = 'F' GROUP BY 1"
        )
        df = child.sql(sql)
        rows = sorted(df.collect())
        plan = self._plan(df)
        assert "Coalesce 1" in plan
        assert "Exchange" not in plan
        assert "EqualTo(o_orderstatus,F)" in plan  # still pushed down
        # the batch session keeps the plain scan
        assert "Coalesce" not in self._plan(spark.sql(sql))
        load_parquet(child, os.path.join(sf_dir, "orders.parquet")) \
            .createOrReplaceTempView("orders")
        unwrapped = child.sql(sql)
        assert "Exchange" in self._plan(unwrapped)
        assert sorted(unwrapped.collect()) == rows

    def test_multi_split_view_keeps_its_exchange(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from shaper_spark.session import interactive_session, register_sf_tables

        rng = __import__("random").Random(0)
        n = 1_000_000
        table = pa.table({
            "k": pa.array([i % 7 for i in range(n)], pa.int64()),
            "v": pa.array([rng.getrandbits(40) for _ in range(n)], pa.int64()),
        })
        path = tmp_path / "lineitem.parquet"
        pq.write_table(table, path, row_group_size=n // 4)
        assert pq.read_metadata(path).num_row_groups == 4
        child = interactive_session(spark)
        open_cost = child._jsparkSession.sessionState().conf() \
            .filesOpenCostInBytes()
        assert os.path.getsize(path) > open_cost
        register_sf_tables(child, str(tmp_path))
        sql = "SELECT k, count(*) AS n, sum(v) AS s FROM lineitem GROUP BY k"
        df = child.sql(sql)
        plan = self._plan(df)
        assert "Coalesce" not in plan and "Exchange" in plan
        child.read.parquet(str(path)).createOrReplaceTempView("lineitem_raw")
        raw = child.sql(sql.replace("lineitem", "lineitem_raw"))
        assert sorted(df.collect()) == sorted(raw.collect())

    def test_other_sessions_register_the_plain_scan(self, spark, sf_dir):
        """The choice follows the session's profile, not its AQE
        setting: a low-latency child (what the operator entries use) and
        a plain child with AQE turned off keep the exchange."""
        from shaper_spark.session import low_latency_session, register_sf_tables

        plain = spark.newSession()
        plain.conf.set("spark.sql.adaptive.enabled", "false")
        sql = "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1"
        for child in (low_latency_session(spark), plain):
            register_sf_tables(child, sf_dir)
            plan = self._plan(child.sql(sql))
            assert "Coalesce" not in plan and "Exchange" in plan
