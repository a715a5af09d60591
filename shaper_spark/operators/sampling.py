"""Deterministic sampling and splitting for training-data pipelines.

* ``hash_split`` — train/val/test assignment by hashing a key column:
  stable across runs, engines, and cluster sizes (no RNG state), and
  leakage-safe when keyed on a *group* column (URL/domain/document id):
  every row of a group lands in the same split. One narrow projection,
  no shuffle.
* ``stratified_exact_sample`` — exactly n rows per stratum, chosen by
  hash order (not ``sampleBy``, whose Bernoulli draw gives approximate
  counts and varies with partitioning). One window shuffle on the
  strata key; deterministic winner set.

Hashes are md5-derived like the dedup family, so a DuckDB oracle
replays assignments bit-for-bit (md5 + conv exist in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "hash_split",
    "stratified_exact_sample",
    "source_mix_weights",
    "mix_temperature_sweep",
    "weighted_sample",
    "shard_assign",
    "write_training_shards",
    "token_budget_allocation",
    "curriculum_phases",
    "uniform_sample_exact",
    "dsir_importance_weights",
    "dsir_select",
]


def _hash_unit(col, seed: str):
    """Deterministic uniform [0, 1) from md5(seed:value) — first 8 hex
    digits as a 32-bit integer over 2^32."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("double")
    return h / F.lit(float(1 << 32))


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    seed: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Append ``split_col`` assigning each row to a named split with the
    given fractions (must sum to ~1). Keyed on ``key_col``: all rows
    sharing a key get the same split — pick the grouping key (domain,
    document id) to prevent train/eval leakage."""
    total = sum(fractions.values())
    if not fractions or abs(total - 1.0) > 1e-9:
        raise ValueError(f"hash_split: fractions must sum to 1, got {total}")
    u = _hash_unit(F.col(key_col), seed)
    expr = None
    acc = 0.0
    *head, (last_name, _) = list(fractions.items())
    for name, frac in head:
        acc += frac
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(last_name) if expr is None else expr.otherwise(F.lit(last_name))
    return df.withColumn(split_col, expr)


def shard_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str = "shard",
    shard_col: str = "shard",
) -> DataFrame:
    """Append ``shard_col`` ∈ [0, n_shards): the deterministic output
    shard for training-data writes. md5-keyed like ``hash_split`` so the
    assignment is stable across runs, engines, and cluster sizes — a
    re-run of the pipeline reproduces byte-identical shard contents,
    which is what makes training-data builds auditable.

    Narrow projection, no shuffle: the shard id is computed where the
    row already lives. The write side then does ONE
    ``repartition(n_shards, shard_col)`` (or ``partitionBy`` on the
    writer) so each shard lands as one output stream — the hash keeps
    shard sizes balanced to within sampling noise, so no shard becomes
    a straggler at 100 TB."""
    if n_shards <= 0:
        raise ValueError("shard_assign: n_shards must be > 0")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn(shard_col, (h % n_shards).cast("int"))


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    seed: str = "shard",
    mode: str = "overwrite",
) -> None:
    """Materialize a training-data build as ``n_shards`` balanced,
    deterministic parquet shards under ``path`` (Hive layout
    ``shard=K/``). The write pipeline a 100 TB build wants:

    * ``shard_assign`` computes the shard where the row lives (narrow,
      no shuffle);
    * ONE ``repartition(n_shards, shard)`` is the only shuffle — each
      output shard is produced by exactly one task, so there are
      exactly ``n_shards`` data files, no small-file explosion;
    * ``partitionBy`` gives the self-describing directory layout, and
      because the data partitioning already matches the write
      partitioning, no task writes more than one file.

    Re-running the build reproduces byte-identical shard *membership*
    (md5-keyed), which is what makes training mixes auditable."""
    out = shard_assign(df, key_col, n_shards, seed=seed)
    (
        out.repartition(n_shards, F.col("shard"))
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    seed: str = "wsample",
) -> DataFrame:
    """Weight-proportional sample of ``n`` rows without replacement —
    the Efraimidis–Spirakis A-ES scheme: key = u^(1/w) with u a
    deterministic md5 uniform, take the n largest keys. One
    top-n-by-key selection (window row_number over a single global
    ordering is avoided: rank via a per-partition local top-n would be
    the 100 TB shape; at the driver-contract scales a global window on
    the key is bounded by n·log — here we use orderBy + limit, which
    Spark plans as TakeOrderedAndProject: per-partition top-n plus a
    driver merge, no global sort shuffle).

    Deterministic (no RNG state), so any engine replays the exact
    winner set; zero/negative weights are excluded (their selection
    key is −∞ in the limit)."""
    if n <= 0:
        raise ValueError("weighted_sample: n must be > 0")
    # floor the uniform at 1e-10 so ln() never sees 0 (prob 2^-32);
    # log-space for numeric stability: ln(key) = ln(u)/w, monotone in key
    u = F.greatest(_hash_unit(F.col(id_col), seed), F.lit(1e-10))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__k", key)
        .orderBy(F.col("__k").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__k")
    )


def source_mix_weights(
    df: DataFrame, group_col: str, alpha: float = 0.7
) -> DataFrame:
    """Temperature-scaled sampling weights per source/domain:
    weight ∝ count^α, normalized to sum 1 (α<1 upweights small sources —
    the multilingual/data-mixing rule from mT5/XLM-R). Returns
    (group, n_docs, weight).

    One hash-agg shuffle over the corpus; the normalizer joins back via
    a broadcast of the single-row total, not a partitionless window —
    the per-group frame stays distributed however many groups exist."""
    counts = df.groupBy(F.col(group_col)).agg(F.count(F.lit(1)).alias("n_docs"))
    powed = counts.withColumn("__p", F.pow(F.col("n_docs"), F.lit(alpha)))
    total = powed.agg(F.sum("__p").alias("__tot"))
    return (
        powed.crossJoin(F.broadcast(total))
        .select(
            F.col(group_col),
            "n_docs",
            F.round(F.col("__p") / F.col("__tot"), 6).alias("weight"),
        )
        .orderBy(group_col)
    )


def token_budget_allocation(
    counts: DataFrame,
    group_col: str,
    count_col: str,
    budget: float,
    max_epochs: float = 1.0,
) -> DataFrame:
    """UniMax-style token-budget allocation (Chung et al. 2023): spread
    ``budget`` tokens as uniformly as possible across groups (languages,
    sources), capping each group at ``max_epochs`` passes over its own
    ``count_col`` tokens. Low-resource groups get their full cap; the
    remaining budget water-fills equally over the rest.

    Closed form instead of the paper's iterative loop: sort groups by
    cap ascending; with prefix sums, group l (rank rn of L) is capped
    iff ``cap_l * (L - rn + 1) <= budget - prefix_{l-1}`` — feasibility
    of giving every remaining group at least ``cap_l``. Because caps
    are sorted, the capped set is a prefix, and the water level is
    ``τ = (budget - prefix_j) / (L - j)`` for the largest capped rank
    j. That makes the whole allocation two window functions plus an
    aggregate — no driver loop, and an ANSI-SQL oracle replays it.

    The window runs over ONE partition of L rows — L is the number of
    groups (languages/sources), bounded at any corpus scale, so the
    single-partition window is benign (same argument as the dashboard
    month-frame windows). The only corpus-sized work is the upstream
    count aggregate the caller provides.

    Returns (group, n_tokens, cap, alloc, weight, capped) — ``alloc``
    and the budget-normalized ``weight`` rounded to 6 dp. If the budget
    exceeds all caps combined, every group is capped and weights sum
    below 1 (the corpus simply cannot fill the budget at this epoch
    cap)."""
    if budget <= 0:
        raise ValueError("token_budget_allocation: budget must be > 0")
    if max_epochs <= 0:
        raise ValueError("token_budget_allocation: max_epochs must be > 0")
    g = counts.select(
        F.col(group_col).alias("group"),
        F.col(count_col).cast("double").alias("n_tokens"),
    ).withColumn("cap", F.col("n_tokens") * F.lit(float(max_epochs)))
    w = Window.orderBy(F.col("cap").asc(), F.col("group").asc())
    ranked = g.select(
        "group",
        "n_tokens",
        "cap",
        F.row_number().over(w).alias("__rn"),
        F.sum("cap").over(w).alias("__prefix"),  # inclusive prefix sum
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__L"),
    )
    B = F.lit(float(budget))
    capped = (
        F.col("cap") * (F.col("__L") - F.col("__rn") + 1)
        <= B - (F.col("__prefix") - F.col("cap"))
    )
    ranked = ranked.withColumn("capped", capped)
    # Water level from the largest capped rank (0 capped → τ = B / L).
    level = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("capped"), F.col("__rn"))), F.lit(0)
        ).alias("__j"),
        F.coalesce(
            F.max(F.when(F.col("capped"), F.col("__prefix"))), F.lit(0.0)
        ).alias("__pj"),
        F.first("__L").alias("__L2"),
    ).select(
        F.when(F.col("__L2") > F.col("__j"), (B - F.col("__pj")) / (F.col("__L2") - F.col("__j")))
        .otherwise(F.lit(0.0))
        .alias("__tau")
    )
    return (
        ranked.crossJoin(F.broadcast(level))
        .select(
            "group",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cap").cast("long").alias("cap"),
            F.round(
                F.when(F.col("capped"), F.col("cap")).otherwise(F.col("__tau")),
                6,
            ).alias("alloc"),
            F.round(
                F.when(F.col("capped"), F.col("cap")).otherwise(F.col("__tau"))
                / B,
                6,
            ).alias("weight"),
            "capped",
        )
        .orderBy("group")
    )


def curriculum_phases(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    n_phases: int = 4,
    seed: str = "curriculum",
    rank_partitions: int | None = None,
    cache: bool = False,
) -> DataFrame:
    """Curriculum-learning phase assignment: rank documents by a
    difficulty score (easy → hard) and cut the ranking into
    ``n_phases`` equal-size phases — the standard easy-first schedule
    (Bengio et al. 2009) driven by any of the §2C quality/LM scores.
    Within a phase, ``order_key`` gives a deterministic md5 shuffle so
    training order is reproducible but not score-sorted (intra-phase
    order should not leak difficulty).

    Returns (id, score, phase, order_key) with ``phase`` EXACTLY equal
    to ANSI ``ntile(n_phases) OVER (ORDER BY score, id)`` — but computed
    WITHOUT a partitionless window.  Spark's WindowExec moves every row
    to ONE partition when the window has no PARTITION BY (the
    "No Partition Defined" warning), which dies at corpus scale.
    Instead this does the classic distributed exact ranking:

      1. ``repartitionByRange`` on (score, id) — ordered, contiguous
         range partitions (a real range-partitioned sort shuffle);
      2. per-partition row counts as a ≤nparts-row aggregate whose
         cumulative offsets broadcast-join back (ONE plan: the range
         exchange materializes once and is served to both consumers
         by AQE/ReuseExchange — no driver collect, no second job);
      3. global rank = partition offset + local row index
         (``monotonically_increasing_id``'s lower 33 bits above a
         ``sortWithinPartitions`` — zero further exchanges; a window
         PARTITIONED by the range-partition id would re-shuffle every
         row by ``__pid`` even though the data already IS partitioned
         that way);
      4. ntile arithmetic on the rank: with n rows and k phases the
         first ``n mod k`` phases get ``⌈n/k⌉`` rows, the rest
         ``⌊n/k⌋`` — bit-identical to the SQL ``ntile``.

    Nothing is ever materialized on the driver."""
    if n_phases <= 0:
        raise ValueError("curriculum_phases: n_phases must be > 0")
    spark = scored.sparkSession
    base = scored.select(
        F.col(id_col).alias("id"),
        F.col(score_col).alias("score"),
        F.md5(
            F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
        ).alias("order_key"),
    )
    nparts = rank_partitions or max(
        2, spark.sparkContext.defaultParallelism
    )
    ranged = base.repartitionByRange(
        nparts, F.col("score").asc(), F.col("id").asc()
    ).withColumn("__pid", F.spark_partition_id())
    # Both consumers below (the counts aggregate and the ranking join)
    # normally read ONE materialization of this exchange
    # (AQE/ReuseExchange — plan-pinned by tests/test_plans.py).  If
    # reuse ever failed to fire the exchange would recompute, which is
    # still CORRECT for deterministic lineage: RangePartitioner's
    # reservoir sampling is seeded per partition index (byteswap32),
    # so two executions see IDENTICAL boundaries and partition ids
    # (verified empirically).  That fallback argument is VOID for
    # nondeterministic upstream lineage (rand()/sample()/unordered
    # limit — r5 advice): such lineage is detected on the analyzed
    # plan (views inlined) and auto-upgraded to the persisted path,
    # where the cache pins one materialization outright.  ``cache=
    # True`` persists the ranged frame; the cached frame rides on the
    # returned DataFrame as ``result._cached`` so derived frames
    # can't outlive the persist — release it explicitly
    # (``result._cached.unpersist()``) after the last action, or let
    # it live until session stop.
    release_on_gc = False
    if not cache and _plan_is_nondeterministic(scored):
        cache = True
        release_on_gc = True
    elif cache:
        release_on_gc = True
    if cache:
        ranged = ranged.persist()
    # Offsets and the total as a ONE-PLAN broadcast aggregate (r13):
    # the old per-partition-count collect() ran a SEPARATE job whose
    # re-planned lineage recomputed the ENTIRE upstream (corpus-scale
    # for the LM-scored entry: 2.69 s → 1.3 s steady at sf0.1) plus
    # the range shuffle a second time — separate actions never share
    # shuffle map outputs.  In one plan the range exchange
    # materializes ONCE and AQE/ReuseExchange serves both consumers.
    # The cumulative offset is a triangular conditional sum over a
    # broadcast CROSS join of the ≤nparts-row counts frame with
    # itself — nparts² tiny rows, and (unlike a partitionless window
    # or a scalar aggregate) no Exchange SinglePartition anywhere in
    # the plan, which tests/test_plans.py pins for this operator.
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    cb = counts.select(
        F.col("__pid").alias("__pid_b"), F.col("__c").alias("__c_b")
    )
    offs = (
        counts.crossJoin(F.broadcast(cb))
        .groupBy("__pid")
        .agg(
            F.sum(
                F.when(
                    F.col("__pid_b") < F.col("__pid"), F.col("__c_b")
                ).otherwise(F.lit(0))
            ).alias("__off"),
            F.sum("__c_b").alias("__n"),
        )
    )
    # Per-partition row number WITHOUT a window: a window PARTITIONED
    # by __pid would hash-exchange every corpus row into ≤nparts
    # reducers even though the data is ALREADY partitioned by __pid by
    # construction (one range partition per pid — Catalyst just can't
    # know that).  Instead sort within the (reused) range partitions
    # and read ``monotonically_increasing_id``'s documented layout —
    # partition index in the upper 31 bits, record number within the
    # partition in the lower 33 — so the local index costs ZERO
    # exchanges.  Evaluated directly above the sort in the same stage,
    # the record number follows sort order; bound: ≤2³³ (~8.6e9) rows
    # per range partition.  Exact ntile equality is pinned by
    # tests/test_plans.py::test_curriculum_phases_matches_ntile.
    loc = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    # ntile arithmetic on the rank, in exact BIGINT column form (same
    # values as the old Python-side divmod: with n rows and k phases
    # the first n % k phases get ⌈n/k⌉ rows, the rest ⌊n/k⌋;
    # greatest(…, 1) covers the cut = n case exactly like the old
    # max(small, 1))
    k = n_phases
    phase_sql = (
        f"CAST(CASE WHEN __r <= (__n % {k}) * ((__n DIV {k}) + 1) "
        f"THEN (__r - 1) DIV ((__n DIV {k}) + 1) "
        f"ELSE (__n % {k}) + (__r - 1 - (__n % {k}) * ((__n DIV {k}) + 1)) "
        f"DIV greatest(__n DIV {k}, 1) END + 1 AS INT)"
    )
    result = (
        ranged.sortWithinPartitions(
            F.col("score").asc(), F.col("id").asc()
        )
        .select("id", "score", "order_key", "__pid", loc.alias("__loc"))
        .join(F.broadcast(offs), "__pid")
        .select(
            "id",
            "score",
            (F.col("__loc") + F.col("__off") + 1).alias("__r"),
            "__n",
            "order_key",
        )
        .select(
            "id", "score", F.expr(phase_sql).alias("phase"), "order_key"
        )
    )
    if release_on_gc:
        # Tie the persisted frame's lifetime to the returned frame with
        # a STRONG reference (the embedding_near_dups `_cand` pattern) —
        # NOT a weakref finalizer: a caller that immediately derives
        # (curriculum_phases(df).filter(...)) drops the wrapper, and a
        # finalizer would unpersist while the derived lineage still
        # reads the cache; for nondeterministic input the re-execution
        # would see different rows than the broadcast offsets were
        # computed from and silently mis-phase. Callers wanting the
        # memory back call result._cached.unpersist() after their last
        # action; otherwise the cache lives until session stop.
        result._cached = ranged
    return result


_NONDET_RE = None


def _plan_is_nondeterministic(df: DataFrame) -> bool:
    """Heuristic lineage check on the analyzed plan's tree string:
    seeded expressions (``rand(seed)``/``uuid()``/``shuffle(...)``/
    ``monotonically_increasing_id()``) and ``Sample`` nodes make two
    executions of the same lineage diverge — exactly the case where
    curriculum_phases' two passes MUST read one persisted
    materialization.  False negatives only cost correctness for exotic
    nondeterminism (Python UDFs with hidden state); false positives
    only cost one persist."""
    global _NONDET_RE
    if _NONDET_RE is None:
        import re

        _NONDET_RE = re.compile(
            r"\b(?:rand|randn|uuid|shuffle)\("
            r"|^[\s+:|-]*Sample\s"
            r"|monotonically_increasing_id\(",
            re.MULTILINE,
        )
    try:
        tree = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True  # cannot inspect → take the safe (persisted) path
    return bool(_NONDET_RE.search(tree))


def uniform_sample_exact(
    df: DataFrame, id_col: str, k: int, seed: str = "usample"
) -> DataFrame:
    """Exactly ``min(k, n)`` rows chosen uniformly and DETERMINISTICALLY:
    rank every row by md5-hash order (ties broken by id) and keep the
    first k — the distributed replacement for reservoir sampling when
    the sample must be stable across runs, engines, and cluster sizes
    (``df.sample`` is Bernoulli: approximate counts, partitioning-
    dependent). Spark plans ``orderBy + limit`` as
    TakeOrderedAndProject: per-partition top-k then a k-bounded merge —
    no global sort, no single-partition collapse."""
    if k <= 0:
        raise ValueError("uniform_sample_exact: k must be > 0")
    u = _hash_unit(F.col(id_col), seed)
    return (
        df.withColumn("__u", u)
        .orderBy(F.col("__u").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("__u")
    )


def stratified_exact_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str,
    seed: str = "sample",
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, deterministically:
    rows ranked by (hash, id) within each stratum, the first n win. One
    shuffle on the strata key; ties impossible (id breaks them)."""
    if n_per_stratum <= 0:
        raise ValueError("stratified_exact_sample: n_per_stratum must be > 0")
    u = _hash_unit(F.col(id_col), seed)
    w = Window.partitionBy(*strata_cols).orderBy(
        u.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def dsir_importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    target_group: str,
    n_buckets: int = 1024,
    alpha: float = 0.5,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): score every document by how target-like its hashed n-gram
    profile is. Features are unigrams + word bigrams hashed into
    ``n_buckets`` buckets; two smoothed bucket LMs are fit — p̂_target
    over the rows whose ``group_col`` equals ``target_group``, p̂_raw
    over the whole pool — and each document's log importance weight is
    Σ_b c_doc[b]·(ln p̂_target[b] − ln p̂_raw[b]). High = looks like
    the target domain; feed into ``dsir_select`` to resample.

    Spark shape: ONE gram scan (posexplode unigrams + sequence-slice
    bigrams, both window-free) → one (doc, bucket) hash-agg — the only
    document-scale shuffle; the bucket-level target/raw LMs re-aggregate
    from those partials (≤ n_buckets rows) and broadcast back, so the
    per-doc weight is a broadcast join + doc-keyed agg. Buckets are
    md5-derived, so any engine replays the exact scores.
    Returns (id, group, n_grams, log_weight)."""
    if n_buckets <= 0:
        raise ValueError("dsir_importance_weights: n_buckets must be > 0")
    from ..session import spread_for_compute

    # The gram explode + ~2·words md5 calls per document is an order
    # of magnitude heavier per input byte than the regex ops the
    # default 4 MB spread gate was calibrated on, so the gate drops to
    # 64 KB here: a single-row-group file would otherwise run the
    # whole hash stage on 1-2 scan tasks (interleaved A/B at sf0.1,
    # serving profile: 4.3 s pinned → 1.6-2.0 s spread).
    df = spread_for_compute(df, min_bytes=64 * 1024, heavy=True)
    arr = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.split(F.col(text_col), " ").alias("__ws"),
    )
    # unigrams and bigrams stream out of ONE explode over a combined
    # index range (i ∈ [1, 2n−1]: i ≤ n indexes a unigram, i > n a
    # bigram start at i−n) — one corpus scan and one Generate instead
    # of a two-branch union that scanned the parquet twice (r10: the
    # union shape re-decoded text per branch; same rows, same grams,
    # same filters, measured faster at sf0.1)
    n = F.size("__ws")
    grams = (
        arr.select(
            "id",
            "grp",
            n.alias("__n"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(2 * n - 1, F.lit(1)))
            ).alias("__i"),
            "__ws",
        )
        .select(
            "id",
            "grp",
            F.when(
                F.col("__i") <= F.col("__n"),
                F.element_at("__ws", F.col("__i")),
            )
            .otherwise(
                F.concat_ws(
                    " ",
                    F.element_at("__ws", F.col("__i") - F.col("__n")),
                    F.element_at(
                        "__ws", F.col("__i") - F.col("__n") + 1
                    ),
                )
            )
            .alias("gram"),
            (F.col("__i") <= F.col("__n")).alias("__isuni"),
        )
        .filter(
            (F.col("__isuni") & (F.length("gram") > 0))
            | (~F.col("__isuni") & ~F.col("gram").rlike("^ | $|^$"))
        )
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col("gram"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(n_buckets),
    )
    # The isNotNull(b) filter is stated HERE even though b can never be
    # null (md5 of a non-null gram): the downstream broadcast join
    # pushes exactly this predicate into ITS copy of the subtree, and
    # only canonically-identical subtrees share one exchange via
    # ReuseExchange — without it the bucket-LM branches rescan the
    # corpus (plan-pinned in tests/test_sampling.py).
    per_doc = (
        grams
        .select("id", "grp", bucket.alias("b"))
        .filter(F.col("b").isNotNull())
        .groupBy("id", "grp", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_t = F.col("grp") == F.lit(target_group)
    buckets = per_doc.groupBy("b").agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(F.lit(0))).alias("ct"),
        F.sum("c").alias("cr"),
    )
    a_ = F.lit(float(alpha))
    bmass = F.lit(float(alpha * n_buckets))
    # nt/nr fold into a partitionless window over the BUCKET frame —
    # bounded to ≤ n_buckets rows by construction, so the single
    # partition is ≤64 rows, not a corpus-sized sort; this removes the
    # separate totals aggregate + its broadcast (two stages off the
    # fresh critical path, measured on the serving profile).
    _all = Window.partitionBy()
    nt = F.sum("ct").over(_all)
    nr = F.sum("cr").over(_all)
    lratio = buckets.select(
        "b",
        (
            F.log((F.col("ct") + a_) / (nt + bmass))
            - F.log((F.col("cr") + a_) / (nr + bmass))
        ).alias("lr"),
    )
    return (
        per_doc.join(F.broadcast(lratio), "b")
        .groupBy("id", "grp")
        .agg(
            F.sum("c").alias("n_grams"),
            # +0.0 canonicalizes a rounded -0.0 (weights straddle 0)
            (F.round(F.sum(F.col("c") * F.col("lr")), 6) + F.lit(0.0)).alias(
                "log_weight"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            "n_grams",
            "log_weight",
        )
    )


def dsir_select(
    weights: DataFrame,
    id_col: str,
    n: int,
    temperature: float = 1.0,
    seed: str = "dsir-sel",
) -> DataFrame:
    """Resample ``n`` documents from DSIR log-weights without
    replacement via deterministic Gumbel-top-k: key = log_weight/T +
    Gumbel(0,1) with the Gumbel drawn from an md5 uniform, take the n
    largest. Gumbel-top-k without replacement is distributionally the
    softmax-weighted draw DSIR prescribes; md5 noise makes the winner
    set engine-replayable. Plans as TakeOrderedAndProject (per-partition
    top-n + n-bounded driver merge — no global sort)."""
    if n <= 0:
        raise ValueError("dsir_select: n must be > 0")
    if temperature <= 0:
        raise ValueError("dsir_select: temperature must be > 0")
    u = F.greatest(_hash_unit(F.col(id_col), seed), F.lit(1e-10))
    key = F.col("log_weight") / F.lit(float(temperature)) - F.log(
        -F.log(u)
    )
    return (
        weights.withColumn("__k", key)
        .orderBy(F.col("__k").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__k")
    )


def mix_temperature_sweep(
    df: DataFrame,
    group_col: str,
    alphas: tuple[float, ...] = (0.3, 0.5, 0.7, 1.0),
) -> DataFrame:
    """Temperature sweep for :func:`source_mix_weights` — the whole
    alpha grid in ONE pass, the way :func:`filter_threshold_sweep`
    grids quality cutoffs: before committing to a sampling
    temperature, see every candidate's per-source weights side by
    side (α=1 is proportional, α→0 is uniform; the mT5/XLM-R tuning
    knob).  Returns (group, alpha, n_docs, weight), ordered.

    Spark shape: one corpus hash-agg to |groups| counts; the grid
    explode and per-alpha normalizers live entirely on that bounded
    frame (|groups|×|alphas| rows — the totals broadcast back).
    Nothing downstream of the first aggregate touches corpus scale."""
    if not alphas or any(a <= 0 for a in alphas):
        raise ValueError("mix_temperature_sweep: alphas must be > 0")
    counts = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    grid = counts.select(
        group_col,
        "n_docs",
        F.explode(
            F.array(*[F.lit(float(a)) for a in alphas])
        ).alias("alpha"),
    ).withColumn("__p", F.pow(F.col("n_docs"), F.col("alpha")))
    totals = grid.groupBy("alpha").agg(F.sum("__p").alias("__tot"))
    return (
        grid.join(F.broadcast(totals), "alpha")
        .select(
            F.col(group_col),
            "alpha",
            "n_docs",
            F.round(F.col("__p") / F.col("__tot"), 6).alias("weight"),
        )
        .orderBy(group_col, "alpha")
    )
