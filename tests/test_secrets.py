"""CREATE/DROP SECRET → Hadoop credential mapping (secrets.py), the
duckdb_secrets()/duckdb_extensions() live content, and the engine
side-effect routing (reference surfaces: duckdb_schema.go:55-87 reads
the redacted secret list; sql_validation permits CREATE SECRET in
tasks)."""

from __future__ import annotations

import pytest

from shaper_spark import secrets as S


@pytest.fixture(autouse=True)
def _clean(spark):
    S.clear_secrets(spark)
    yield
    S.clear_secrets(spark)


def _hconf(spark):
    return spark.sparkContext._jsc.hadoopConfiguration()


class TestSecretStatements:
    def test_s3_secret_sets_global_s3a_conf(self, spark):
        ok = S.try_execute_secret(
            spark,
            "CREATE SECRET mysec (TYPE S3, KEY_ID 'AKID', SECRET 'SK', "
            "REGION 'eu-west-1')",
        )
        assert ok
        conf = _hconf(spark)
        assert conf.get("fs.s3a.access.key") == "AKID"
        assert conf.get("fs.s3a.secret.key") == "SK"
        assert conf.get("fs.s3a.endpoint.region") == "eu-west-1"
        assert S.list_secrets() == [("mysec", "s3", "config", "")]

    def test_paren_inside_quoted_value_does_not_end_the_body(self, spark):
        assert S.try_execute_secret(
            spark,
            "CREATE SECRET s1 (TYPE s3, KEY_ID 'k', SECRET 'p)w', "
            "REGION 'eu')",
        )
        conf = _hconf(spark)
        assert conf.get("fs.s3a.secret.key") == "p)w"
        assert conf.get("fs.s3a.endpoint.region") == "eu"

    def test_scoped_secret_uses_per_bucket_conf(self, spark):
        S.try_execute_secret(
            spark,
            "CREATE SECRET b1 (TYPE S3, KEY_ID 'K1', SECRET 'S1', "
            "SCOPE 's3://bucket-a/prefix')",
        )
        conf = _hconf(spark)
        assert conf.get("fs.s3a.bucket.bucket-a.access.key") == "K1"
        assert conf.get("fs.s3a.access.key") is None  # global untouched
        assert S.list_secrets()[0][3] == "s3://bucket-a/prefix"

    def test_drop_unsets_conf(self, spark):
        S.try_execute_secret(
            spark, "CREATE SECRET d1 (TYPE S3, KEY_ID 'K', SECRET 'S')"
        )
        assert S.try_execute_secret(spark, "DROP SECRET d1")
        assert _hconf(spark).get("fs.s3a.access.key") is None
        assert S.list_secrets() == []
        with pytest.raises(ValueError, match="not found"):
            S.try_execute_secret(spark, "DROP SECRET d1")
        assert S.try_execute_secret(spark, "DROP SECRET IF EXISTS d1")

    def test_replace_and_if_not_exists(self, spark):
        S.try_execute_secret(
            spark, "CREATE SECRET r (TYPE S3, KEY_ID 'A', SECRET 'S')"
        )
        with pytest.raises(ValueError, match="already exists"):
            S.try_execute_secret(
                spark, "CREATE SECRET r (TYPE S3, KEY_ID 'B', SECRET 'S')"
            )
        S.try_execute_secret(
            spark,
            "CREATE SECRET IF NOT EXISTS r (TYPE S3, KEY_ID 'B', SECRET 'S')",
        )
        assert _hconf(spark).get("fs.s3a.access.key") == "A"
        S.try_execute_secret(
            spark,
            "CREATE OR REPLACE SECRET r (TYPE S3, KEY_ID 'B', SECRET 'S')",
        )
        assert _hconf(spark).get("fs.s3a.access.key") == "B"

    def test_unnamed_secret_gets_default_name(self, spark):
        S.try_execute_secret(
            spark, "CREATE SECRET (TYPE S3, KEY_ID 'K', SECRET 'S')"
        )
        assert S.list_secrets()[0][0] == "__default_s3"

    def test_non_secret_statement_falls_through(self, spark):
        assert not S.try_execute_secret(spark, "SELECT 1")
        assert not S.try_execute_secret(spark, "CREATE TABLE t (x INT)")


class TestEngineAndIntrospection:
    def test_dashboard_create_secret_then_introspect(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(
            spark,
            """
            CREATE SECRET dash1 (TYPE S3, KEY_ID 'DK', SECRET 'DS',
                                 SCOPE 's3://dash-bucket');
            SELECT name, type, provider, scope FROM duckdb_secrets()
            ORDER BY name;
            """,
            dashboard_id="sec",
        )
        q = r.sections[-1].queries[-1]
        rows = q.rows
        assert ["dash1", "s3", "config", "s3://dash-bucket"] in [
            list(x) for x in rows
        ]
        # the credential reached the filesystem layer
        assert (
            _hconf(spark).get("fs.s3a.bucket.dash-bucket.access.key") == "DK"
        )
        # values are never introspectable
        assert "DS" not in str(rows)

    def test_extensions_report_core_sources(self, spark):
        from shaper_spark.engine import query_dashboard

        r = query_dashboard(
            spark,
            "SELECT extension_name, loaded FROM duckdb_extensions()"
            " ORDER BY extension_name;",
            dashboard_id="ext",
        )
        names = [row[0] for row in r.sections[-1].queries[-1].rows]
        assert "parquet" in names and "json" in names
