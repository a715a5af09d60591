"""SparkSession construction and test-data table registration.

One long-lived session per process (the reference's per-request DuckDB
re-init — server/core/app.go:238-334 — is an anti-pattern on Spark where
session startup costs seconds; dashboard isolation instead uses
``spark.newSession()`` clones sharing the same SparkContext).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "configure_runtime",
    "low_latency_session",
    "interactive_session",
    "register_sf_tables",
    "spread_for_compute",
    "TPCH_TABLES",
]

# Confs the engine depends on that are runtime-settable, so they can be
# applied to an externally constructed SparkSession (the correctness
# driver builds its own vanilla session and passes it in — round 1's
# 0/50 was exactly this: events.parquet has a TIMESTAMP(NANOS) column
# the vectorized reader rejects without nanosAsLong).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Testdata timestamps are naive parquet µs (isAdjustedToUTC=false);
    # read them as session-tz TIMESTAMP (LTZ) like every prior round
    # instead of inferring TIMESTAMP_NTZ, so downstream dtype contracts
    # (render typing, unix-ms normalization, attach views) see one type.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the advisory partition size instead of maximizing task
    # count: with parallelismFirst (the default) AQE deliberately emits
    # many tiny post-shuffle tasks, which at small data is pure
    # scheduling overhead (measured 0.34→0.20 s on 1-shuffle queries)
    # and at cluster scale is the setting Spark's own tuning guide
    # recommends turning off.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
}


def configure_runtime(spark: SparkSession) -> None:
    """Apply engine-required runtime confs to any session, including one
    built elsewhere. Each conf is attempted independently — a Spark build
    that rejects one (e.g. marks it static) must not block the rest."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "shaper_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = str(cpus or os.cpu_count() or 32)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle partitions sized to local cores; on a real cluster this
        # would be ~2-3× total executor cores (AQE coalesces the excess).
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Spark 4's ICU-backed lower()/upper() (CollationSupport.execBinaryICU)
        # has a contended shared cache: with 32 concurrent tasks, threads
        # serialize inside ICU and a 1s stage takes minutes. The JVM case
        # mapping differs only on locale-sensitive one-to-many mappings
        # (e.g. İ), which the SQL surface here never relies on.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Whole-stage codegen emits a fresh class per query shape; a
        # dashboard/bench workload with hundreds of distinct plans fills
        # the JVM's default 240 MB code cache mid-session, and the
        # resulting flush/deopt storms intermittently slow arbitrary
        # queries 10-60×. One long-lived serving JVM wants a code cache
        # sized for its whole query population.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Janino-compiled classes are cached per generated-source text,
        # but the cache is capped at 100 entries (static conf) — below
        # the plan-shape population of a serving session (this repo's
        # bench alone cycles ~112 queries × several codegen units
        # each), so every pass re-pays Janino compilation AND a fresh
        # C2 warm-up for every query (r13-opt measured the same plan
        # 2.1× slower steady inside the full bench session than in a
        # dedicated one).  Sized to the query population like the code
        # cache above; entries are weak-referenced class handles, not
        # bytecode copies, so the footprint is small.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # The synthetic test parquet uses TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as int64 nanos and convert in
        # register_sf_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet µs timestamps read as LTZ, not NTZ (see
        # _RUNTIME_CONFS).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # DuckDB-parity scalar UDFs (string distances, Unicode
    # normalization, path/URL helpers, special math) — slow-path by
    # design, registered once per session like the reference's getenv
    from .udfs import register_compat_udfs

    register_compat_udfs(spark)
    return spark


def low_latency_session(spark: SparkSession) -> SparkSession:
    """Derive a low-latency profile from a batch session: a
    ``newSession()`` child sharing the same SparkContext, catalog of
    managed tables, and cached data — but its OWN SQLConf with adaptive
    execution off.

    Why two profiles: AQE replans between shuffle stages, which means
    per-exchange stage barriers and driver-side re-optimization.  At
    100 TB that buys skew-join splitting and runtime coalescing and is
    absolutely the right default for the corpus operators (every §2C
    operator keeps the batch parent).  For dashboard serving —
    sub-second statements over dimension-sized results — the barriers
    are pure latency: measured on an interleaved same-process A/B at
    sf0.1, the fresh-execution headline drops ~23% with AQE off
    (Jaccard dedup 1.48→0.81 s, sessionize 0.45→0.32 s).  DuckDB has no
    equivalent overhead, so the serving path shouldn't pay it either.

    Temp views are per-session in Spark: register the tables the
    serving layer needs on the child (``register_sf_tables(child,…)``).
    The child inherits every other engine conf via configure_runtime.
    Dashboards are served from :func:`interactive_session`, this profile
    plus one-stage plans over one-split tables.
    """
    child = spark.newSession()
    configure_runtime(child)
    try:
        cores = child.sparkContext.defaultParallelism
    except Exception:
        cores = 32
    for k, v in {
        "spark.sql.adaptive.enabled": "false",
        # Without AQE there is no runtime coalescing, so the static
        # shuffle partitioning must fit the workload.  Serving
        # statements aggregate to dashboard-sized results (the engine
        # caps renders at 3000 rows), where exchange payloads are a few
        # MB: cores/4 partitions cut per-stage task-launch count 4×
        # with zero spill risk.  Interleaved same-process A/B at sf0.1,
        # min-of-4, 32 cores: jaccard 1.00→0.82 s, events_hourly
        # 0.50→0.26 s, sessionize 0.57→0.39 s, no query slower.  The
        # batch parent keeps the full core count + AQE coalescing for
        # the corpus operators.
        "spark.sql.shuffle.partitions": str(max(8, cores // 4)),
    }.items():
        try:
            child.conf.set(k, v)
        except Exception:
            pass
    return child


# Sessions made by interactive_session (weakly held).
_DASHBOARD_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def interactive_session(spark: SparkSession) -> SparkSession:
    """The dashboard-serving profile: a :func:`low_latency_session`
    child on which :func:`register_sf_tables` plans one-split tables as
    one stage. Corpus operators that share work between plan branches
    through ``ReusedExchange`` (tf-idf, DSIR) lose that sharing on such
    a view, so they run on a plain :func:`low_latency_session`."""
    child = low_latency_session(spark)
    _DASHBOARD_SESSIONS.add(child)
    return child


def register_sf_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every parquet table under ``sf_dir`` as a temp view.

    Uses ``spark.read.parquet`` directly — scans stay columnar with
    predicate pushdown and column pruning (verify via
    ``df.explain('formatted')`` → PushedFilters/ReadSchema).

    On a dashboard-serving session (made by
    :func:`interactive_session`) a table whose scan is one partition is
    registered as ``coalesce(1)`` of it: ``CoalesceExec(1)`` reports
    ``SinglePartition``, which already satisfies the distribution an
    aggregate, distinct or sort requires, so its statements plan as one
    stage instead of one scan task plus an exchange into
    ``spark.sql.shuffle.partitions`` reduce tasks. Filters and column
    pruning still push into the scan below it. Every other session
    keeps its exchanges: corpus operators share work between plan
    branches through ``ReusedExchange``, which needs an exchange to
    reuse.
    """
    one_stage = spark in _DASHBOARD_SESSIONS
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_parquet(spark, path)
            if one_stage and _one_split(spark, path):
                df = df.coalesce(1)
            df.createOrReplaceTempView(name)
    from .plancache import bump

    bump()  # view targets may have changed: flush memoized plans


# Threshold for the opt-in spread (see _spread): below this a
# repartition is never worth a shuffle.
_SPREAD_MIN_BYTES = 64 * 1024


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (read by Spark as int64
    under nanosAsLong)."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
    except Exception:
        return []
    out = []
    for field_ in schema:
        t = field_.type
        if str(t).startswith("timestamp[ns"):
            out.append(field_.name)
    return out


def _one_split(spark: SparkSession, path: str) -> bool:
    """True when one scan task reads all of the parquet file at
    ``path`` under any configuration: it has one row group (a row
    group is never split across tasks), or it is no larger than
    ``min(maxPartitionBytes, openCostInBytes)``, which Spark's split
    size is never below. Decided from the footer, because planning the
    scan to count its partitions slows registration down."""
    try:
        import pyarrow.parquet as pq

        if pq.read_metadata(path).num_row_groups <= 1:
            return True
    except Exception:
        return False
    conf = spark._jsparkSession.sessionState().conf()
    limit = min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())
    return os.path.getsize(path) <= limit


def load_parquet(spark: SparkSession, path: str, spread: bool = False):
    """Read a parquet file, converting nano-timestamp columns back to
    TimestampType (micros). At real scale this conversion would be a
    one-time ETL rewrite; the view-level cast keeps tests exact.

    ``spread=False`` (default): the single-row-group test fixtures keep
    the *map side* (scan + filters + partial agg) in one task, but every
    stage after a shuffle parallelizes across spark.sql.shuffle
    partitions regardless — and measurements at sf0.1 showed the forced
    round-robin repartition's extra full shuffle costs 2-4× more than
    the single-task map side it parallelizes. At real scale inputs have
    many splits and the question disappears. ``spread=True`` re-inserts
    the repartition for workloads whose map side is genuinely heavy
    (e.g. an expensive per-row UDF over an unsplittable file)."""
    from pyspark.sql import functions as F

    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols and not _nanos_conf_on(spark):
        # Session lacks nanosAsLong and won't accept it (static conf, or a
        # hook reset it): PARQUET_TYPE_ILLEGAL would surface — sometimes
        # only lazily at task time, so detect up front. Rewrite ns->us once
        # via pyarrow into a cache dir keyed by path+mtime and read the
        # copy. At real scale this is the one-time ETL normalization pass.
        df = spark.read.parquet(_ns_to_us_cached(path))
        return _spread(spark, df, path) if spread else df
    df = spark.read.parquet(path)
    for col in nanos_cols:
        # Integer division: nanos exceed 2^53, so a float intermediate
        # (col / 1000) silently loses the last microsecond digit.
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
        )
    return _spread(spark, df, path) if spread else df


def scaled_parallelism(df, chunk_bytes: int = 512 * 1024) -> int:
    """Partition count proportional to the input's optimizer size
    estimate, capped at the core count (r11): one partition per
    ``chunk_bytes`` of input.  AQE cannot coalesce a user-specified
    repartition count, so operators that pin an exchange fan-out
    should pin one that scales — at benchmark scale (sub-MB corpora)
    32 reduce tasks per wave are pure dispatch floor, while on a real
    cluster the estimate clears the cap and this equals the full
    spread."""
    try:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return 2
    try:
        est = int(
            str(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        return max(2, parallelism)
    return max(2, min(parallelism, est // chunk_bytes + 1))


def spread_for_compute(df, min_bytes: int = 256 * 1024, heavy: bool = False):
    """Ensure map-side parallelism for CPU-heavy per-row operators
    (string scans, shingling, vector kernels).

    Parquet splits at row-group granularity, so a single-row-group file
    runs its entire map side in ONE task no matter how many cores exist
    — measured: 3 string passes over the documents fixture pinned one
    core while 31 idled. A round-robin repartition costs one shuffle of
    the input but divides the per-row compute by the fan-out; for
    operators whose per-row work dominates scan cost that trade wins by
    an order of magnitude. On a real cluster inputs have ≥ parallelism
    splits and this is a no-op.

    Width-PROPORTIONAL (r13): the r11 all-or-nothing form (full
    ``parallelism`` fan-out above a 4 MB gate) made small inputs pick
    between a serial map side and a 32-way exchange whose dispatch
    overhead exceeded the win — interleaved A/B at sf0.1 (594 KB
    documents, ~25 MB decompressed text): 32-way spread REGRESSED
    token_stats 0.38→0.59 s while 8-way beat both (no-spread 0.44 /
    8-way 0.38; quality 0.65→0.45, lang_id 0.71→0.39, threshold sweep
    0.77→0.50). Fan-out scales with the input estimate (~64 KB of
    compressed input per task ≈ 2.5 MB decompressed text), capped at
    ``parallelism``; below ``min_bytes`` the per-row work is
    milliseconds and any exchange is pure overhead.

    ``heavy=True`` keeps the full-``parallelism`` fan-out regardless of
    the size estimate — for operators whose per-row work is an order
    above a string pass (shingling, minhash banks, vector kernels);
    interleaved A/B at sf0.1: the dedup heavies lost ~25 % at the
    size-proportional 9-way that the cheap scans prefer."""
    try:
        spark = df.sparkSession
        parallelism = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= max(2, parallelism // 2):
            return df
        try:
            est = int(
                str(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:
            est = None
        if est is None:
            return df.repartition(parallelism)  # unknown: historical
        if est >= min_bytes:
            width = (
                parallelism
                if heavy
                else min(parallelism, max(2, est // (64 * 1024)))
            )
            if width > df.rdd.getNumPartitions():
                return df.repartition(width)
    except Exception:
        pass
    return df


def _spread(spark: SparkSession, df, path: str):
    try:
        parallelism = spark.sparkContext.defaultParallelism
        n_splits = df.rdd.getNumPartitions()
        big_enough = os.path.getsize(path) >= _SPREAD_MIN_BYTES
    except Exception:
        return df
    if big_enough and n_splits < parallelism // 2:
        df = df.repartition(parallelism)
    return df


def _nanos_conf_on(spark: SparkSession) -> bool:
    try:
        return (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
            == "true"
        )
    except Exception:
        return False


def _ns_to_us_cached(path: str) -> str:
    """Rewrite a nanos-timestamp parquet file to micros under a cache dir
    (keyed by absolute path + mtime + size); idempotent across processes."""
    import hashlib
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    st = os.stat(path)
    key = hashlib.sha256(
        f"{os.path.abspath(path)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:24]
    cache_dir = os.path.join(tempfile.gettempdir(), "shaper_spark_uscache")
    out = os.path.join(cache_dir, f"{key}.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(cache_dir, exist_ok=True)
    table = pq.read_table(path)
    # tz-naive ns columns become tz-aware UTC micros so Spark reads them as
    # TimestampType — matching the timestamp_micros() conversion on the
    # nanosAsLong path (session timezone is UTC).
    fields = [
        pa.field(f.name, pa.timestamp("us", getattr(f.type, "tz", None) or "UTC"))
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in table.schema
    ]
    # safe=False truncates sub-microsecond digits — same semantics as the
    # `div 1000` integer division on the nanosAsLong path.
    table = table.cast(pa.schema(fields), safe=False)
    tmp = f"{out}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, out)  # atomic: concurrent writers converge
    return out
