"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k, the correctness baseline.
  The join is a broadcast of the query side, so the big corpus side
  streams without a shuffle.
* ``lsh_topk`` — random-hyperplane LSH bucketing as the scale path:
  corpus is bucketed once (shuffle on bucket id), queries probe only
  their bucket (and optionally neighboring bands), turning O(n·q) into
  O(q·bucket). Hyperplanes are seeded numpy, closed over by the UDF.

All vector arithmetic goes through ``veckernel`` — Arrow-batched numpy
matmuls. The previous ``F.aggregate``/``F.zip_with`` formulation ran on
Spark's interpreted HOF path (~100× per-core penalty; seconds for
milliseconds of math at sf0.1).

At 100 TB the corpus side would additionally be written bucketed
(``bucketBy``) so repeated query batches skip the bucketing shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .veckernel import (
    hyperplane_bucket,
    hyperplane_bucket_tables,
    pair_cosine,
)

__all__ = [
    "cosine_topk",
    "lsh_topk",
    "ivf_topk",
    "centroid_similarity",
    "embedding_outlier_report",
    "ann_recall",
    "build_ivf_index",
    "ivf_index_probe",
    "ivf_recall_curve",
    "seeded_unit_centroids",
    "chain_dot_sql",
]

# Driver-local strategy cutoff for cosine_topk, mirroring
# dedup.NEARDUP_BYTES_BUDGET: when the whole corpus matrix fits in this
# many bytes (rows × dim × 8), score it in one numpy pass on the driver
# instead of spinning a Python-worker stage — the broadcast regime.
# Module-level so tests can force the distributed path.
TOPK_BYTES_BUDGET = 100 << 20
TOPK_ROW_CAP = 200_000


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    _qpdf=None,
    _cpdf=None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank), rank 1..k, ties broken
    by neighbor id for determinism.

    Shape: the query matrix (assumed small — it was broadcast in the
    join formulation too) ships once inside a ``mapInPandas`` closure;
    each corpus partition computes one normalized matmul against it and
    emits only its local top-k per query, so corpus vectors cross the
    Arrow boundary exactly once and no (corpus × queries) pair rows are
    ever materialized (the join formulation transferred both vectors per
    pair — the dominant cost). The bounded partitions × |q| × k
    candidate set then merges driver-side into the global ranking.
    Zero-norm vectors have no defined cosine and never rank.

    ``_qpdf``/``_cpdf`` (r14, internal): callers that already collected
    the query/corpus frames (``ann_recall_sweep``'s driver-local path)
    pass them in so the exact side doesn't re-run the collect jobs —
    ``_cpdf`` must be the ``limit(max_rows + 1)`` projection this
    function would have built itself."""
    import numpy as np

    qpdf = (
        _qpdf
        if _qpdf is not None
        else queries.select(id_col, vec_col).toPandas()
    )
    qid_t = dict(queries.dtypes)[id_col]
    cid_t = dict(corpus.dtypes)[id_col]
    out_schema = f"query_id {qid_t}, neighbor_id {cid_t}, cosine double"
    spark = corpus.sparkSession
    if qpdf.empty:
        empty = spark.createDataFrame([], out_schema + ", rank int")
        return empty
    Q = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = np.nan
    Qn = Q / qn[:, None]
    qids = qpdf[id_col].to_numpy()
    kk = k

    # Driver-local path: the query frame already told us the dimension
    # (no probe job needed); when the corpus matrix fits the byte budget
    # collect it once (CollectLimit — stops at max_rows+1, never a full
    # scan at petabyte scale) and do the matmul + top-k here. Saves the
    # Python-worker stage spin-up that dominates at this size; above the
    # cutoff the distributed per-partition local-top-k path below runs.
    dim = len(Q[0]) if Q.size else 0
    max_rows = (
        min(TOPK_ROW_CAP, TOPK_BYTES_BUDGET // (dim * 8)) if dim else 0
    )
    cpdf = (
        _cpdf
        if _cpdf is not None
        else (
            corpus.select(id_col, vec_col).limit(max_rows + 1).toPandas()
            if max_rows
            else None
        )
    )
    if cpdf is not None and len(cpdf) <= max_rows and len(cpdf):
        C = np.vstack(cpdf[vec_col].to_numpy()).astype(np.float64)
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = np.nan
        cids = cpdf[id_col].to_numpy()
        candidates = []
        _STRIP = 16384
        for s0 in range(0, len(C), _STRIP):
            Cs = C[s0 : s0 + _STRIP]
            cns = cn[s0 : s0 + _STRIP]
            cs_ids = cids[s0 : s0 + _STRIP]
            with np.errstate(invalid="ignore"):
                S = (Cs / cns[:, None]) @ Qn.T
            S[cs_ids[:, None] == qids[None, :]] = -np.inf
            S[~np.isfinite(S)] = -np.inf
            m = min(kk, S.shape[0])
            for j in range(S.shape[1]):
                col = S[:, j]
                order = np.lexsort((cs_ids, -col))[:m]
                keep = order[col[order] > -np.inf]
                candidates.extend(
                    (qids[j], cs_ids[i], col[i]) for i in keep
                )
        return _merge_topk(spark, candidates, k, out_schema)

    def local_topk(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            if not len(pdf):
                continue
            C = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0] = np.nan
            with np.errstate(invalid="ignore"):
                S = (C / cn[:, None]) @ Qn.T  # (rows, queries)
            cids = pdf[id_col].to_numpy()
            S[cids[:, None] == qids[None, :]] = -np.inf  # self-pairs out
            S[~np.isfinite(S)] = -np.inf  # zero-norm rows out
            m = min(kk, S.shape[0])
            out_q, out_id, out_cos = [], [], []
            for j in range(S.shape[1]):
                col = S[:, j]
                order = np.lexsort((cids, -col))[:m]  # (-cos, id) ties
                keep = order[col[order] > -np.inf]
                out_q.extend([qids[j]] * len(keep))
                out_id.extend(cids[keep])
                out_cos.extend(col[keep])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_id, "cosine": out_cos}
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        local_topk, schema=out_schema
    )
    # Global re-rank happens driver-side: the candidate set is bounded
    # at partitions × |queries| × k rows by construction (each partition
    # emitted only its local top-k), so collecting it is the cheap merge
    # step every distributed top-k ends with — one job instead of an
    # extra exchange+sort stage. The corpus pass above stays fully
    # distributed.
    scoring_plan = cand._jdf.queryExecution().executedPlan().toString()
    rows = cand.collect()
    out = _merge_topk(
        spark,
        [(r["query_id"], r["neighbor_id"], r["cosine"]) for r in rows],
        k,
        out_schema,
    )
    # plan of the distributed scoring pass, for plan-shape tests
    out._scoring_plan = scoring_plan
    return out


def _merge_topk(spark, candidates, k, out_schema):
    """Bounded driver-side merge of (query_id, neighbor_id, cosine)
    candidates into the global per-query top-k ranking."""
    per_query: dict = {}
    for qid, nid, cos in candidates:
        per_query.setdefault(qid, []).append((nid, cos))
    merged = []
    for qid, items in per_query.items():
        items.sort(key=lambda t: (-t[1], t[0]))
        for rank, (nid, cos) in enumerate(items[:k], start=1):
            # + 0.0 canonicalizes -0.0 after rounding (oracle parity)
            merged.append((qid, nid, round(float(cos), 6) + 0.0, rank))
    merged.sort(key=lambda t: (t[0], t[3]))
    full_schema = out_schema + ", rank int"
    if not merged:
        return spark.createDataFrame([], full_schema)
    # Hand the merged rows back as a pandas frame: createDataFrame from
    # Python tuples takes the RDD conversion path (~0.9 s of driver
    # overhead even for 20 rows); the pandas path goes through Arrow.
    import pandas as pd

    mpdf = pd.DataFrame(
        merged, columns=["query_id", "neighbor_id", "cosine", "rank"]
    )
    return spark.createDataFrame(mpdf, schema=full_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Sign pattern over `planes` seeded hyperplanes → bucket id;
    candidates share the bucket; exact cosine re-rank inside the
    bucket.  ``tables`` > 1 is the standard recall lever: each table
    gets an independent seeded hyperplane set (seed, seed+1, …), a
    pair is a candidate when it collides in ANY table, and duplicate
    collisions dedupe BEFORE the cosine re-rank (one scoring per
    distinct pair).  Scale shape is unchanged — each row emits one
    (table, bucket) key per table (a ×L fan-out of narrow key rows,
    not of vectors' scoring work), the probe stays a bucket equi-join
    with the broadcast query side, and recall rises as 1-(1-p^planes)^L.
    Table 0 uses ``seed`` exactly, so tables=1 is bit-identical to the
    historical single-table operator (oracle compatibility)."""
    import numpy as np

    if tables <= 0:
        raise ValueError("lsh_topk: tables must be >= 1")
    hypers = [
        np.random.RandomState(seed + t).standard_normal((planes, dim))
        for t in range(tables)
    ]

    def keyed(df, out_id):
        base = df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias("__v")
        )
        tb = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        hyperplane_bucket(F.col("__v"), hypers[t]).alias(
                            "b"
                        ),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("__tb")
        return base.select(out_id, "__v", tb).select(
            out_id,
            "__v",
            F.col("__tb.t").alias("__t"),
            F.col("__tb.b").alias("bucket"),
        )

    c = keyed(corpus, "neighbor_id").withColumnRenamed("__v", "cv")
    q = keyed(queries, "query_id").withColumnRenamed("__v", "qv")
    pairs = (
        c.join(F.broadcast(q), ["__t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
    )
    if tables > 1:
        # a pair colliding in several tables scores once
        pairs = pairs.distinct()
    scored = pairs.withColumn(
        "cosine", pair_cosine(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("cosine", 6) + F.lit(0.0)).alias("cosine"),
            "rank",
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    sample: int = 2048,
    iters: int = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse k-means quantizer
    partitions the corpus into cells; each query probes only its
    ``n_probe`` nearest cells, then exact cosine re-ranks inside them.

    Spark shape of the classic FAISS-IVF recipe:
      * quantizer training is a driver-side numpy k-means over a bounded
        seeded sample (tiny — centroids are the model, not the data);
      * cell assignment is an Arrow-batched pandas UDF (one numpy matmul
        per batch — the sanctioned vectorized path, NOT a row-at-a-time
        UDF);
      * the probe is an equi-join on cell id, so pair work scales with
        corpus/n_cells × n_probe, never n².
    At 100 TB the corpus side would be written bucketed by cell id so
    repeated query batches skip the assignment scan.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(seed)
    sampled = np.array(
        [
            r[0]
            for r in corpus.select(vec_col)
            .limit(sample)
            .collect()
        ],
        dtype=np.float64,
    )
    norms = np.linalg.norm(sampled, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = sampled / norms
    centroids = unit[rng.choice(len(unit), size=min(n_cells, len(unit)), replace=False)]
    for _ in range(iters):
        sims = unit @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(len(centroids)):
            members = unit[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    centroids[c] = m / n
    cent = centroids  # closed over by the UDFs below (broadcast via pickle)

    @pandas_udf("int")
    def nearest_cell(vs):
        mat = np.array(vs.tolist(), dtype=np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return pd.Series((mat / n @ cent.T).argmax(axis=1))

    @pandas_udf("array<int>")
    def probe_cells(vs):
        mat = np.array(vs.tolist(), dtype=np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0] = 1.0
        sims = mat / n @ cent.T
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        nearest_cell(F.col(vec_col)).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", pair_cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("cosine", 6) + F.lit(0.0)).alias("cosine"),
            "rank",
        )
    )


def centroid_similarity(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-space diagnostics: the cosine-similarity matrix between
    per-group centroid vectors (mean embedding per source/language).
    High off-diagonal similarity flags near-duplicate sources or a
    collapsed embedding model — the corpus-level drift alarm for the
    vector column, the way ``zipf_slope`` is for text.

    Returns (group_a, group_b, cosine) for a ≤ b, cosine rounded to
    6 dp. Spark shape: one ``posexplode`` of the vector feeds a
    (group, dim) mean — the only corpus-sized shuffle, with map-side
    partials; centroids are |groups|×dim rows, so the dim-keyed
    self-join and the norm join are bounded frames with broadcast
    hints. Everything is built-in expressions (no HOF lambdas, no
    Python), and the whole computation replays in ANSI SQL."""
    cent = (
        df.select(
            F.col(group_col).alias("g"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
        .groupBy("g", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    norms = cent.groupBy("g").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = cent.select(
        F.col("g").alias("group_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("g").alias("group_b"), "dim", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("group_a") <= F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = F.broadcast(
        norms.select(F.col("g").alias("group_a"), F.col("nrm").alias("na"))
    )
    nb = F.broadcast(
        norms.select(F.col("g").alias("group_b"), F.col("nrm").alias("nb"))
    )
    return (
        dots.join(na, "group_a")
        .join(nb, "group_b")
        .select(
            "group_a",
            "group_b",
            # zero-norm guard: a group whose centroid is the zero
            # vector (all-zero or perfectly symmetric embeddings) has
            # no defined direction — NULL, not NaN/±Inf
            F.when(
                (F.col("na") * F.col("nb")) > 0,
                F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                + F.lit(0.0),
            )
            .otherwise(F.lit(None))
            .alias("cosine"),
        )
        .orderBy("group_a", "group_b")
    )


def embedding_outlier_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str,
    k_sigma: float = 2.0,
) -> DataFrame:
    """Per-group embedding-outlier triage: each vector's cosine to its
    OWN group centroid, summarized as (group, n_vecs, avg_cos,
    std_cos, min_cos, n_outliers) with outlier = cosine more than
    ``k_sigma`` standard deviations BELOW the group mean — the
    mislabeled/noisy-vector detector a pipeline runs before trusting a
    label column (the per-member complement of
    :func:`centroid_similarity`'s between-group matrix).

    Spark shape: one posexplode feeds BOTH the (group, dim) centroid
    mean and the per-vector dot/norm terms; the centroid frame is
    |groups|×dim and broadcasts back onto the exploded stream, so the
    per-vector cosine is two keyed aggregations with map-side partials
    — no Python, no window, and the whole computation (population
    stddev, the z-threshold comparison) replays in ANSI SQL."""
    ex = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    cent = ex.groupBy("g", "dim").agg(F.avg("x").alias("c"))
    per_vec = (
        ex.join(F.broadcast(cent), ["g", "dim"])
        .groupBy("g", "id")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nv"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
        .select(
            "g",
            "id",
            F.when(
                (F.col("nv") * F.col("nc")) > 0,
                F.col("dot") / (F.col("nv") * F.col("nc")),
            ).alias("cos"),
        )
    )
    stats = per_vec.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("cos").alias("__avg"),
        # population stddev: deterministic, both-engine-native
        F.expr("stddev_pop(cos)").alias("__std"),
        F.min("cos").alias("__min"),
    )
    flagged = (
        per_vec.join(
            F.broadcast(stats.select("g", "__avg", "__std")), "g"
        )
        .groupBy("g")
        .agg(
            F.sum(
                F.when(
                    F.col("cos")
                    < F.col("__avg")
                    - F.lit(float(k_sigma)) * F.col("__std"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
    )
    return (
        stats.join(flagged, "g")
        .select(
            F.col("g").alias(group_col),
            "n_vecs",
            (F.round("__avg", 6) + F.lit(0.0)).alias("avg_cos"),
            (F.round("__std", 6) + F.lit(0.0)).alias("std_cos"),
            (F.round("__min", 6) + F.lit(0.0)).alias("min_cos"),
            "n_outliers",
        )
        .orderBy(group_col)
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    tables: int = 1,
    exact: DataFrame | None = None,
) -> DataFrame:
    """Recall@k audit of the LSH ANN against exact brute-force cosine:
    per query, how many of the TRUE top-k neighbors the approximate
    index returned.  (query_id, k, n_exact, n_hit, recall) — ``n_exact``
    can fall below k on tiny corpora; ``recall`` = n_hit / n_exact,
    rounded to 6 dp.  This is the operator a pipeline runs before
    trusting an ANN index for near-dup sweeps — the standard
    recall-vs-cost calibration readout.

    Scale shape: both sides reuse the existing operators (exact =
    ``cosine_topk``'s per-partition matmul top-k with broadcast
    queries; approx = ``lsh_topk``'s bucket equi-join), the overlap is
    a LEFT SEMI join on (query_id, neighbor_id) — query-count-sized
    frames, trivially broadcastable — and the rollup groups by query.
    Deterministic end-to-end (seeded hyperplanes, id tiebreaks), so the
    whole report replays in the DuckDB oracle."""
    # the exact side is configuration-independent — callers sweeping
    # ANN settings pass one precomputed (persisted) frame instead of
    # paying the brute-force matmul per setting (r11 bench lever)
    if exact is None:
        exact = cosine_topk(corpus, queries, id_col, vec_col, k=k).select(
            "query_id", "neighbor_id"
        )
    approx = lsh_topk(
        corpus, queries, id_col, vec_col, k=k,
        planes=planes, dim=dim, seed=seed, tables=tables,
    ).select("query_id", "neighbor_id")
    hits = exact.join(
        approx, ["query_id", "neighbor_id"], "left_semi"
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_hit = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            F.lit(k).alias("k"),
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias(
                "n_hit"
            ),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def _sweep_local(
    spark,
    qpdf,
    cpdf,
    id_col,
    vec_col,
    qid_t,
    settings,
    k,
    hypers,
    exact_pairs,
):
    """Driver-side numpy replay of the distributed sweep below —
    SAME arithmetic in the SAME order: bucket bits from one float64
    vstacked-hyperplane matmul (``hyperplane_bucket_tables``), pair
    cosine as ``einsum / (norm·norm)`` (``pair_cosine``), candidate =
    min colliding table < setting, rank by (cosine DESC with NaN
    first — Spark's double ordering — then neighbor id), top-k, hits
    vs the exact pair set.  ``recall``'s round() and the division run
    in Spark on the returned local relation, so the output is
    bit-identical by construction (pinned by
    test_ann_recall_sweep_paths_agree)."""
    import numpy as np
    import pandas as pd

    C = np.vstack(cpdf[vec_col].to_numpy()).astype(np.float64)
    # ids of any orderable type (integer or string) — kept as values
    cids = np.asarray(cpdf[id_col].tolist())
    Q = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qids = np.asarray(qpdf[id_col].tolist())
    planes = hypers[0].shape[0]
    max_t = len(hypers)
    H = np.vstack([np.asarray(h, dtype=np.float64) for h in hypers])
    powers = (2 ** np.arange(planes)).astype(np.int64)
    cb = ((C @ H.T) >= 0).reshape(len(C), max_t, planes) @ powers
    qb = ((Q @ H.T) >= 0).reshape(len(Q), max_t, planes) @ powers

    # collision pairs + first colliding table (the sweep's __mt);
    # self-pairs excluded by ID like the distributed filter
    eq = cb[:, None, :] == qb[None, :, :]  # (corpus, queries, tables)
    mask = eq.any(axis=2) & (cids[:, None] != qids[None, :])
    ii, jj = np.nonzero(mask)
    mt = (
        eq[ii, jj].argmax(axis=1)
        if len(ii)
        else np.zeros(0, dtype=np.int64)
    )
    # pair_cosine's exact arithmetic, chunked to bound the gather
    cos = np.empty(len(ii), dtype=np.float64)
    _CHUNK = 262_144
    for s0 in range(0, len(ii), _CHUNK):
        sl = slice(s0, s0 + _CHUNK)
        ma, mb = Q[jj[sl]], C[ii[sl]]
        denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos[sl] = np.einsum("ij,ij->i", ma, mb) / denom
    # Spark orders doubles with NaN greater than anything: DESC puts
    # NaN first — replicate via -inf on the ascending primary key
    order_key = np.where(np.isnan(cos), -np.inf, -cos)

    exact_by_q: dict = {}
    for q, n in exact_pairs:
        exact_by_q.setdefault(q, set()).add(n)
    rows = []
    for L in settings:
        sel = np.nonzero(mt < L)[0]
        by_query: dict = {}
        for idx in sel:
            by_query.setdefault(qids[jj[idx]].item(), []).append(idx)
        for qid in sorted(exact_by_q):
            ex = exact_by_q[qid]
            cand = by_query.get(qid, [])
            if cand:
                cand = np.asarray(cand)
                order = np.lexsort(
                    (cids[ii[cand]], order_key[cand])
                )[:k]
                approx_ids = {cids[ii[cand[o]]].item() for o in order}
            else:
                approx_ids = set()
            rows.append(
                (L, qid, len(ex), len(ex & approx_ids))
            )
    full_schema = (
        f"tables int, query_id {qid_t}, k int, "
        "n_exact bigint, n_hit bigint, recall double"
    )
    if not rows:
        return spark.createDataFrame([], full_schema)
    mpdf = pd.DataFrame(
        rows, columns=["tables", "query_id", "n_exact", "n_hit"]
    )
    base = spark.createDataFrame(
        mpdf,
        schema=f"tables int, query_id {qid_t}, "
        "n_exact bigint, n_hit bigint",
    )
    # rows pre-sorted by (tables, query_id) — no orderBy job (r11)
    return base.select(
        "tables",
        "query_id",
        F.lit(k).alias("k"),
        "n_exact",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
    )


def ann_recall_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    tables_list: tuple[int, ...] = (1, 3),
    exact: DataFrame | None = None,
) -> DataFrame:
    """`ann_recall` over a SWEEP of LSH table counts as ONE plan with
    shared scans (r11 verdict task 5: the per-setting loop re-ran the
    bucket join, scoring, window, semi-join and rollup serially —
    sequential stage waves over ~0.07 s of numeric work).

    Key identity: hyperplane table ``t`` is seeded ``seed + t`` for
    EVERY setting, so a pair is a candidate for setting ``L`` iff its
    minimum colliding table index is < L.  One keyed exchange emits
    all ``max(tables_list)`` (table, bucket) keys per vector, one
    bucket equi-join (broadcast query side) finds collisions, one
    group-by takes ``min(t)`` per distinct pair, one scoring pass and
    one (setting, query) window rank the candidates, and the exact
    ground truth (setting-independent, computed or passed once) is
    semi-joined after a literal settings explode.  Bit-identical to
    running ``ann_recall`` per setting and unioning.  Returns
    (tables, query_id, k, n_exact, n_hit, recall) ordered by
    (tables, query_id)."""
    import numpy as np

    settings = sorted(set(int(t) for t in tables_list))
    if not settings or settings[0] <= 0:
        raise ValueError("ann_recall_sweep: tables_list must be >= 1")
    max_t = settings[-1]
    hypers = [
        np.random.RandomState(seed + t).standard_normal((planes, dim))
        for t in range(max_t)
    ]

    # Driver-local path (r14, the cosine_topk recipe): below the SAME
    # byte budget the whole sweep is a 200-row report over matrices
    # numpy holds comfortably — the distributed plan's 4 exchange
    # waves + 3 Arrow stages are pure dispatch at that size (measured
    # 1.15 s vs ~0.1 s of arithmetic at sf0.1).  Both sides collect
    # ONCE (CollectLimit, never a full scan past the budget) and the
    # exact side reuses the frames via cosine_topk's _qpdf/_cpdf seam.
    # Bit-identity with the distributed path is pinned by
    # tests/test_plans.py::test_ann_recall_sweep_paths_agree: the
    # bucket bits, pair cosines and (−cosine, id) ordering replicate
    # the UDF arithmetic exactly (same float64 matmul/einsum, NaN
    # ordered first like Spark's DESC), and recall's round() runs in
    # Spark on the local relation.
    local = None
    max_rows = min(TOPK_ROW_CAP, TOPK_BYTES_BUDGET // (dim * 8))
    if (
        exact is None
        and max_rows
        and dict(corpus.dtypes).get(id_col)
        == dict(queries.dtypes).get(id_col)
        and dict(corpus.dtypes).get(vec_col)
        == dict(queries.dtypes).get(vec_col)
    ):
        # ONE collect job for both sides (the two separate toPandas
        # dispatches were ~0.55 s of the 1.15 s driver-path total):
        # the corpus branch keeps its CollectLimit budget (``dim`` is
        # a declared parameter — the hyperplane matmul requires it —
        # so max_rows needs no data probe), the query side is
        # "assumed small" exactly as cosine_topk documents.
        both = (
            corpus.select(
                F.lit(0).alias("__q"),
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
            )
            .limit(max_rows + 1)
            .unionByName(
                queries.select(
                    F.lit(1).alias("__q"),
                    F.col(id_col).alias("id"),
                    F.col(vec_col).alias("v"),
                )
            )
        )
        pdf = both.toPandas()
        qpdf0 = (
            pdf[pdf["__q"] == 1][["id", "v"]]
            .rename(columns={"id": id_col, "v": vec_col})
            .reset_index(drop=True)
        )
        cpdf0 = (
            pdf[pdf["__q"] == 0][["id", "v"]]
            .rename(columns={"id": id_col, "v": vec_col})
            .reset_index(drop=True)
        )
        # second guard: the collision matrix is (n·q·t) bytes — a
        # large query set must stay on the distributed path
        if (
            len(cpdf0) <= max_rows
            and len(cpdf0)
            and len(qpdf0)
            and len(cpdf0) * len(qpdf0) * max_t <= (1 << 28)
        ):
            local = (qpdf0, cpdf0)
    if local is not None:
        qpdf0, cpdf0 = local
        exact_rows = cosine_topk(
            corpus, queries, id_col, vec_col, k=k,
            _qpdf=qpdf0, _cpdf=cpdf0,
        ).select("query_id", "neighbor_id").collect()
        return _sweep_local(
            corpus.sparkSession,
            qpdf0,
            cpdf0,
            id_col,
            vec_col,
            dict(queries.dtypes)[id_col],
            settings,
            k,
            hypers,
            [(r[0], r[1]) for r in exact_rows],
        )

    def keyed(df, out_id, vname):
        # ONE stacked-matmul pandas UDF emits all per-table buckets
        # (array<int>, table t seeded seed+t exactly as lsh_topk), vs
        # one UDF invocation — and one Arrow ship of the vector column
        # — per table.  posexplode recovers the (t, bucket) keys.
        base = df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(vname),
            hyperplane_bucket_tables(F.col(vec_col), hypers).alias(
                "__bs"
            ),
        )
        return base.select(
            out_id,
            vname,
            F.posexplode("__bs").alias("__t", "bucket"),
        )

    c = keyed(corpus, "neighbor_id", "cv")
    q = keyed(queries, "query_id", "qv")
    # Score at the collision row, BEFORE the pair-dedup exchange: a
    # collision row carries two dim-wide vectors (~1 KB at dim=64);
    # scoring map-side means the groupBy shuffles 32-byte
    # (qid, nid, t, cosine) rows instead.  A pair colliding in several
    # tables is scored per collision — identical values (max() keeps
    # the agg deterministic), and the duplicate vectorized arithmetic
    # is far cheaper than shipping vectors through the exchange.
    scored = (
        c.join(F.broadcast(q), ["__t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "__t",
            pair_cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("__t").alias("__mt"), F.max("cosine").alias("cosine"))
    )
    tagged = scored.select(
        F.explode(
            F.array(*[F.lit(s) for s in settings])
        ).alias("tables"),
        "*",
    ).filter(F.col("__mt") < F.col("tables"))
    w = Window.partitionBy("tables", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    approx = (
        tagged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("tables", "query_id", "neighbor_id")
    )
    if exact is None:
        exact = cosine_topk(corpus, queries, id_col, vec_col, k=k).select(
            "query_id", "neighbor_id"
        )
    exact_tagged = exact.select(
        F.explode(
            F.array(*[F.lit(s) for s in settings])
        ).alias("tables"),
        "query_id",
        "neighbor_id",
    )
    # One LEFT join marks hits, one rollup counts them — replacing the
    # semi-join + two groupBys + re-join shape (three fewer stages).
    # Broadcast the approx side: ≤ |settings|·|queries|·k rows by the
    # rank filter, but it sits above a window whose size estimate is
    # unknown, so the planner falls back to a SortMergeJoin (two
    # exchanges + two sorts over query-count-sized frames — r14
    # measured plan).  guide §3.1.
    merged = exact_tagged.join(
        F.broadcast(approx.withColumn("__hit", F.lit(1))),
        ["tables", "query_id", "neighbor_id"],
        "left",
    )
    return (
        merged.groupBy("tables", "query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .select(
            "tables",
            "query_id",
            F.lit(k).alias("k"),
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias(
                "recall"
            ),
        )
        .orderBy("tables", "query_id")
    )


def _train_quantizer(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int,
    sample: int,
    iters: int,
    seed: int,
):
    """Driver-side numpy k-means over a bounded seeded sample — the
    FAISS-IVF coarse quantizer (centroids are the model, not the
    data). Shared by ivf_topk and the persisted index."""
    import numpy as np

    rng = np.random.RandomState(seed)
    sampled = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample).collect()],
        dtype=np.float64,
    )
    norms = np.linalg.norm(sampled, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = sampled / norms
    centroids = unit[
        rng.choice(len(unit), size=min(n_cells, len(unit)), replace=False)
    ]
    for _ in range(iters):
        sims = unit @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(len(centroids)):
            members = unit[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    centroids[c] = m / n
    return centroids


def build_ivf_index(
    corpus: DataFrame,
    index_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample: int = 2048,
    iters: int = 5,
    seed: int = 42,
) -> dict:
    """Persist an IVF index: ``<prefix>_centroids`` (cell, centroid)
    and ``<prefix>_cells`` (id, cell) PARTITIONED BY cell — the
    index-once / probe-many ANN regime (the similarity twin of the r7
    signature store). Probes then touch only the probed cells'
    partitions (directory-level pruning), so steady-state query cost
    scales with corpus/n_cells × n_probe files read — the per-query
    assignment scan ivf_topk pays disappears.

    Returns {"n_cells", "n_vectors", "centroids_table", "cells_table"}.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = corpus.sparkSession
    cent = _train_quantizer(corpus, vec_col, n_cells, sample, iters, seed)

    @pandas_udf("int")
    def nearest_cell(vs):
        mat = np.array(vs.tolist(), dtype=np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return pd.Series((mat / n @ cent.T).argmax(axis=1))

    cent_table = f"{index_prefix}_centroids"
    cells_table = f"{index_prefix}_cells"
    for t in (cent_table, cells_table):
        # A rebuild must also survive a STALE location (directory left
        # by a previous process whose in-memory catalog entry is gone —
        # saveAsTable(overwrite) refuses that case): drop the entry if
        # registered, then remove the path either way.
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        try:
            jvm = spark._jvm
            warehouse = spark.conf.get("spark.sql.warehouse.dir")
            path = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{t}")
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(path, True)
        except Exception:
            pass
    spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cent)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").format("parquet").saveAsTable(cent_table)
    assigned = corpus.select(
        F.col(id_col).alias("id"), nearest_cell(F.col(vec_col)).alias("cell")
    )
    (
        assigned.write.mode("overwrite")
        .format("parquet")
        .partitionBy("cell")
        .saveAsTable(cells_table)
    )
    from ..plancache import bump

    bump()
    n_vec = spark.table(cells_table).count()
    return {
        "n_cells": len(cent),
        "n_vectors": n_vec,
        "centroids_table": cent_table,
        "cells_table": cells_table,
    }


def ivf_index_probe(
    corpus: DataFrame,
    queries: DataFrame,
    index_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probe a persisted IVF index (see :func:`build_ivf_index`):
    queries assign to their ``n_probe`` nearest stored centroids, the
    candidate set comes from the cell-partitioned assignments table
    (cell IN (...) prunes to the probed partitions — broadcast-sized
    query batches make the IN-list a literal, so pruning happens at
    planning time), vectors join back from the corpus by id, and exact
    cosine re-ranks. Provably exact at ``n_probe >= n_cells``.
    Returns (query_id, neighbor_id, cosine, rank)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .veckernel import pair_cosine

    spark = corpus.sparkSession
    cent_rows = sorted(
        spark.table(f"{index_prefix}_centroids").collect(),
        key=lambda r: r["cell"],
    )
    cent = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    n_probe = min(n_probe, len(cent))

    @pandas_udf("array<int>")
    def probe_cells(vs):
        mat = np.array(vs.tolist(), dtype=np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0] = 1.0
        sims = mat / n @ cent.T
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    # Materialize the probed cell ids (bounded: ≤ n_cells values — the
    # query batch is broadcast-sized by contract) into a LITERAL
    # IN-list so the partitioned assignments table prunes at PLANNING
    # time (PartitionFilters on the scan, pytest-pinned) — Spark's
    # dynamic pruning does not fire for a UDF-derived broadcast side.
    probed = sorted(
        {r["cell"] for r in q.select("cell").distinct().collect()}
    )
    cells = spark.table(f"{index_prefix}_cells").filter(
        F.col("cell").isin(probed)
    )
    cand = cells.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("id")
    )
    vecs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("cv")
    )
    scored = cand.join(vecs, "id").withColumn(
        "cosine", pair_cosine(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            (F.round("cosine", 6) + F.lit(0.0)).alias("cosine"),
            "rank",
        )
    )


def chain_dot_sql(vec_sql: str, lits, elem_fmt: str) -> str:
    """An explicit left-to-right ``v[1]*c1 + v[2]*c2 + …`` dot-product
    chain with the centroid embedded as repr'd double literals —
    identical SQL text (modulo the element-accessor spelling) parses
    and evaluates to the identical IEEE double sequence in Spark and
    DuckDB, which array/list dot-product builtins do NOT guarantee
    (vectorized summation orders differ per engine).  The
    cross-engine contract for every cell-similarity comparison in
    :func:`ivf_recall_curve`."""
    terms = [
        f"{elem_fmt.format(v=vec_sql, i=i + 1)} * {float(x)!r}"
        for i, x in enumerate(lits)
    ]
    return "(" + " + ".join(terms) + ")"


def fold_dot_sql(vec_sql: str, lits) -> str:
    """The Spark-side compile-sized spelling of :func:`chain_dot_sql`:
    ``aggregate(zip_with(v, array(c…), (x, y) -> x * y), 0D,
    (acc, t) -> acc + t)`` — a loop the codegen emits in O(1) source
    instead of O(dim) unrolled terms (16 chains × 64 literal terms
    blow Janino's 64 KB method limit: the whole span fell back to
    interpreted AND re-paid the failed 17k-line compile on every
    execution).  The fold is the same left-to-right IEEE sequence as
    the chain: products in index order, sums left-associated; the only
    difference is the ``0.0`` seed, and ``0.0 + t == t`` for every
    double except ``-0.0`` → ``+0.0``, which no comparison can
    distinguish (the sims feed only ``>`` / ``=`` — pinned by
    tests/test_linalg.py's fold-vs-chain equality check)."""
    arr = "array(" + ", ".join(repr(float(x)) for x in lits) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
        "0D, (acc, t) -> acc + t)"
    )


def seeded_unit_centroids(n_cells: int, dim: int, seed: int):
    """Data-independent coarse quantizer: seeded standard-normal rows
    normalized to unit length.  Used by the oracle-replayable entry
    (k-means centroids are data-dependent and cannot be embedded in a
    scale-factor-agnostic oracle); pass k-means centroids from
    :func:`_train_quantizer` for production quality."""
    import numpy as np

    rng = np.random.RandomState(seed)
    c = rng.standard_normal((n_cells, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    dim: int = 64,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """Empirical IVF recall-vs-n_probe curve — the similarity-family
    analog of the dedup family's ``lsh_parameter_plan`` (analytic) +
    ``jaccard_threshold_curve`` (empirical) pair: before fixing an
    IVF probe width, measure what every candidate n_probe actually
    recalls on THIS corpus.  Key identity: an exact top-k neighbor is
    recalled at probe width p iff the CELL RANK of its cell in the
    query's centroid-similarity ordering is ≤ p (rerank among probed
    candidates is exact, and a true top-k neighbor outranks every
    candidate) — so the whole grid folds into conditional sums over
    ONE exact-pairs ⋈ cell-rank frame, never a per-p probe loop.
    ``recall@n_cells = 1`` by construction (the exactness proof
    ``ivf_index_probe`` pins, read off the same curve).

    Returns (n_probe, n_exact, n_hit, recall_micro), ordered —
    recall_micro half-up BIGINT.  Cell similarities are explicit
    literal-embedded dot chains (:func:`chain_dot_sql`) on BOTH
    engines, so the curve replays in the DuckDB oracle when
    ``centroids`` is data-independent (default:
    :func:`seeded_unit_centroids`).

    Scale shape: exact side is ``cosine_topk``'s per-partition matmul
    (queries broadcast); the corpus pays one codegen projection of
    n_cells dot chains + argmax (scan-local, no shuffle beyond the
    exact side's); ranks live on the query-sized frame; the grid agg
    is one |pairs|-bounded pass."""
    if centroids is None:
        centroids = seeded_unit_centroids(n_cells, dim, seed)
    n_cells = len(centroids)
    # fold spelling, not the unrolled chain: same IEEE sequence, but
    # codegen-sized (the 16×64-term chains exceeded Janino's 64 KB
    # method limit — interpreted fallback + a failed 17k-line compile
    # per execution; see fold_dot_sql)
    sims = [fold_dot_sql(vec_col, centroids[c]) for c in range(n_cells)]

    exact = cosine_topk(corpus, queries, id_col, vec_col, k=k).select(
        "query_id", "neighbor_id"
    )

    # corpus → cell: Arrow numpy argmax (the scale path — the
    # 16×64-literal SQL chains blow past janino's method limit and
    # fall back to interpreted eval, measured 10× slower on the
    # corpus-sized side).  numpy's float64 matmul and the oracle's
    # sequential chain can differ in the last ulp, which flips the
    # argmax only on a near-exact cell tie — measure-zero for
    # continuous embeddings, and the oracle differential plus the
    # pytest chain-vs-numpy pin would surface it.  Query-side sims
    # and the rank comparisons stay literal chains (query-sized).
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cent_mat = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _nearest(vs):
        mat = np.array(vs.tolist(), dtype=np.float64)
        return pd.Series((mat @ cent_mat.T).argmax(axis=1))

    cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _nearest(F.col(vec_col)).alias("__ncell"),
    )

    qsims = queries.select(
        F.col(id_col).alias("query_id"),
        *[F.expr(s).alias(f"__s{c}") for c, s in enumerate(sims)],
    )

    sn = (
        "CASE __ncell "
        + " ".join(f"WHEN {c} THEN __s{c}" for c in range(n_cells))
        + " END"
    )
    rank_terms = " + ".join(
        f"(CASE WHEN __s{c} > __sn OR (__s{c} = __sn AND {c} < __ncell) "
        "THEN 1 ELSE 0 END)"
        for c in range(n_cells)
    )
    ranked = (
        exact.join(cells, "neighbor_id")
        .join(qsims, "query_id")
        .withColumn("__sn", F.expr(sn))
        .select(F.expr(f"1 + {rank_terms}").alias("__r"))
    )
    wide = ranked.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        *[
            F.sum(F.when(F.col("__r") <= p, 1).otherwise(0))
            .cast("long")
            .alias(f"__h{p}")
            for p in range(1, n_cells + 1)
        ],
    )
    stack_args = ", ".join(
        f"{p}, __h{p}" for p in range(1, n_cells + 1)
    )
    return (
        wide.select(
            F.col("__n"),
            F.expr(
                f"stack({n_cells}, {stack_args}) AS (n_probe, n_hit)"
            ),
        )
        .select(
            F.col("n_probe").cast("int").alias("n_probe"),
            F.col("__n").alias("n_exact"),
            "n_hit",
            F.expr(
                "CASE WHEN __n > 0 THEN "
                "(2 * 1000000 * n_hit + __n) DIV (2 * __n) "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("recall_micro"),
        )
        .orderBy("n_probe")
    )
