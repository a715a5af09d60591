"""Round-6 operators: embedding covariance (mapInPandas partials),
vocabulary coverage curve (distributed rank), source overlap matrix
(posting-list self-join)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


class TestEmbeddingCovariance:
    def test_matches_numpy_population_covariance(self, spark):
        from shaper_spark.operators.linalg import embedding_covariance

        rows = [(i, [float(i % 5), float(i % 3), float(i)]) for i in range(40)]
        df = spark.createDataFrame(rows, "id long, v array<float>")
        out = embedding_covariance(df, "v", 3).collect()
        X = np.array([r[1] for r in rows], dtype=np.float64)
        C = (X.T @ X) / len(X) - np.outer(X.mean(0), X.mean(0))
        assert len(out) == 6  # upper triangle of 3x3
        for r in out:
            assert r["i"] <= r["j"]
            assert abs(C[r["i"], r["j"]] - r["cov"]) < 1e-5

    def test_single_row_zero_covariance(self, spark):
        from shaper_spark.operators.linalg import embedding_covariance

        df = spark.createDataFrame([(1, [2.0, 3.0])], "id long, v array<float>")
        out = {(r["i"], r["j"]): r["cov"] for r in embedding_covariance(df, "v", 2).collect()}
        assert out == {(0, 0): 0.0, (0, 1): 0.0, (1, 1): 0.0}

    def test_rejects_bad_dim(self, spark):
        from shaper_spark.operators.linalg import embedding_covariance

        with pytest.raises(ValueError):
            embedding_covariance(spark.range(1), "v", 0)

    def test_plan_has_no_rowwise_explode(self, spark):
        # the whole point: partials cross Arrow once per partition; the
        # only explodes in the plan are over the d/d^2-sized PARTIAL
        # arrays, after the Python stage — assert the Python crossing
        # sits directly on the projected input (no Expand/Generate
        # between scan and mapInPandas)
        from shaper_spark.operators.linalg import embedding_covariance

        df = spark.table("embeddings")
        plan = (
            embedding_covariance(df, "embedding", 64)
            ._jdf.queryExecution().executedPlan().toString()
        )
        before_python = plan.split("MapInPandas")[-1]
        assert "Generate" not in before_python  # nothing explodes pre-Python


class TestVocabCoverageCurve:
    def test_small_corpus_exact(self, spark):
        from shaper_spark.operators.text import vocab_coverage_curve

        df = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "a b d")], "id long, text string"
        )
        out = {r["cutoff"]: r for r in vocab_coverage_curve(df, "text", (1, 2, 4)).collect()}
        # counts: a=4, b=3, c=1, d=1 (total 9, vocab 4)
        assert out[1]["covered_tokens"] == 4
        assert out[2]["covered_tokens"] == 7
        assert out[4]["covered_tokens"] == 9
        assert out[4]["coverage"] == 1.0
        assert all(r["vocab_size"] == 4 and r["total_tokens"] == 9 for r in out.values())

    def test_tie_break_deterministic(self, spark):
        from shaper_spark.operators.text import vocab_coverage_curve

        # c and d tie at count 1: rank orders by (cnt desc, token asc),
        # so cutoff 3 covers a,b,c — deterministic across runs
        df = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "a b d")], "id long, text string"
        )
        a = vocab_coverage_curve(df, "text", (3,)).collect()[0]
        b = vocab_coverage_curve(df, "text", (3,)).collect()[0]
        assert a["covered_tokens"] == b["covered_tokens"] == 8

    def test_rejects_bad_cutoffs(self, spark):
        from shaper_spark.operators.text import vocab_coverage_curve

        with pytest.raises(ValueError):
            vocab_coverage_curve(spark.range(1), "text", (0,))

    def test_topk_is_bounded_no_global_sort(self, spark):
        # the ranking must be TakeOrderedAndProject (per-partition top-k
        # + k-bounded merge) — the row_number window then runs over a
        # ≤ max(cutoffs)-row frame, bounded by construction; the full
        # vocabulary never passes through a sort or a window
        from shaper_spark.operators.text import vocab_coverage_curve

        plan = (
            vocab_coverage_curve(spark.table("documents"), "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan


class TestSourceOverlapMatrix:
    def test_shared_grams_counted_once_per_pair(self, spark):
        from shaper_spark.operators.decontam import source_overlap_matrix

        text = "w1 w2 w3 w4 w5 w6 w7 w8"
        df = spark.createDataFrame(
            [
                (1, text, "s1"),
                (2, text, "s2"),
                (3, text, "s2"),  # same source twice: still ONE pair row
                (4, "x1 x2 x3 x4 x5 x6 x7 x8", "s3"),
            ],
            "doc_id long, text string, source string",
        )
        out = source_overlap_matrix(df, "doc_id", "text", "source").collect()
        assert [(r["source_a"], r["source_b"], r["n_shared_grams"]) for r in out] == [
            ("s1", "s2", 1)
        ]

    def test_max_df_drops_boilerplate(self, spark):
        from shaper_spark.operators.decontam import source_overlap_matrix

        text = "w1 w2 w3 w4 w5 w6 w7 w8"
        rows = [(i, text, f"s{i % 2}") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        # the gram appears in 10 docs; cap at 5 removes it entirely
        assert source_overlap_matrix(df, "doc_id", "text", "source", max_df=5).count() == 0
        assert source_overlap_matrix(df, "doc_id", "text", "source", max_df=None).count() == 1

    def test_no_cartesian_in_plan(self, spark):
        from shaper_spark.operators.decontam import source_overlap_matrix

        plan = (
            source_overlap_matrix(spark.table("documents"), "doc_id", "text", "source")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestIncrementalDedup:
    def test_all_three_drop_reasons(self, spark):
        from shaper_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog and then runs home"),
                (2, "completely different corpus content here now"),
            ],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [
                # exact vs corpus (normalization catches case/punct)
                (10, "The QUICK brown fox jumps over the lazy dog and then runs home!"),
                # near-dup vs corpus doc 1 (only the LAST word changed:
                # 10 of 11 trigrams shared -> jaccard 10/12 >= 0.5)
                (11, "the quick brown fox jumps over the lazy dog and then runs away"),
                # fresh content, duplicated inside the batch
                (12, "novel words that match nothing else at all"),
                (13, "novel words that match nothing else at all"),
                # genuinely new
                (14, "entirely new unrelated document body text"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["id"]: (r["keep"], r["reason"])
            for r in incremental_dedup(
                corpus, batch, "doc_id", "text", k=3, threshold=0.5
            ).collect()
        }
        assert out[10] == (False, "exact_corpus")
        assert out[11] == (False, "near_corpus")
        assert out[12] == (True, None)  # batch winner (lowest id)
        assert out[13] == (False, "exact_batch")
        assert out[14] == (True, None)

    def test_exact_corpus_takes_precedence(self, spark):
        from shaper_spark.operators.dedup import incremental_dedup

        txt = "alpha beta gamma delta epsilon zeta"
        corpus = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(10, txt), (11, txt)], "doc_id long, text string"
        )
        out = {
            r["id"]: r["reason"]
            for r in incremental_dedup(
                corpus, batch, "doc_id", "text"
            ).collect()
        }
        # both match the corpus exactly — corpus reason wins over batch
        assert out == {10: "exact_corpus", 11: "exact_corpus"}

    def test_max_df_caps_corpus_side(self, spark):
        from shaper_spark.operators.dedup import incremental_dedup

        txt = "common shingle text repeated in every document"
        corpus = spark.createDataFrame(
            [(i, txt + f" tail{i} x y z w") for i in range(20)],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, txt + " tailnew a b c d")], "doc_id long, text string"
        )
        # with the hot shingles capped away, nothing clears the bar
        capped = incremental_dedup(
            corpus, batch, "doc_id", "text", k=3, threshold=0.5, max_df=5
        ).collect()
        assert capped[0]["keep"] is True

    def test_no_cartesian_in_plan(self, spark):
        from shaper_spark.operators.dedup import incremental_dedup

        corpus = spark.table("documents").limit(50)
        batch = spark.table("documents").limit(10)
        plan = (
            incremental_dedup(corpus, batch, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestAnnRecall:
    def test_perfect_recall_when_one_bucket(self, spark):
        # planes=0 edge isn't allowed; instead craft vectors whose
        # hyperplane signs all agree (same orthant) so LSH candidates =
        # whole corpus and recall must be 1.0 for every query
        import numpy as np

        from shaper_spark.operators.similarity import ann_recall

        rng = np.random.RandomState(7)
        hyper = np.random.RandomState(42).standard_normal((8, 4))
        # vectors = positive combinations of a direction that lands in a
        # fixed sign pattern: use one base vector + tiny noise
        base = rng.standard_normal(4)
        rows = [
            (i, (base + 0.01 * rng.standard_normal(4)).tolist())
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = ann_recall(df, df.filter("vec_id < 4"), k=3, dim=4).collect()
        assert len(out) == 4
        for r in out:
            assert r["n_exact"] == 3
            assert r["recall"] == 1.0  # all candidates share the bucket

    def test_zero_recall_when_buckets_split(self, spark):
        from shaper_spark.operators.similarity import ann_recall

        # two exact opposite clusters: a query's true neighbors can
        # still share its bucket, but a corpus with only the query in
        # its bucket yields n_hit 0 and recall 0 rather than an error
        rows = [(0, [1.0, 1.0]), (1, [-1.0, -1.0]), (2, [-1.0, -0.9])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["query_id"]: r
            for r in ann_recall(
                df, df.filter("vec_id = 0"), k=2, dim=2
            ).collect()
        }
        assert out[0]["n_exact"] == 2
        assert 0.0 <= out[0]["recall"] <= 1.0

    def test_multi_table_recall_dominates_single(self, spark):
        import numpy as np

        from shaper_spark.operators.similarity import ann_recall

        rng = np.random.RandomState(3)
        rows = [(i, rng.standard_normal(16).tolist()) for i in range(200)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter("vec_id < 10")

        def avg_recall(tables):
            rs = ann_recall(
                df, q, k=5, planes=4, dim=16, tables=tables
            ).collect()
            return sum(r["recall"] for r in rs) / len(rs)

        # more tables can only ADD candidate pairs → recall is monotone
        assert avg_recall(3) >= avg_recall(1)

    def test_tables_param_validated(self, spark):
        from shaper_spark.operators.similarity import lsh_topk

        with pytest.raises(ValueError):
            lsh_topk(spark.range(1), spark.range(1), tables=0)


class TestMinhashEstimateReport:
    def test_identical_docs_estimate_and_exact_one(self, spark):
        from shaper_spark.operators.dedup import minhash_estimate_report

        txt = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        df = spark.createDataFrame(
            [(1, txt), (2, txt), (3, "q1 q2 q3 q4 q5 q6 q7 q8")],
            "doc_id long, text string",
        )
        out = minhash_estimate_report(df, "doc_id", "text").collect()
        row = [r for r in out if (r["id_a"], r["id_b"]) == (1, 2)]
        assert row and row[0]["est_jaccard"] == 1.0
        assert row[0]["exact_jaccard"] == 1.0
        assert row[0]["abs_err"] == 0.0

    def test_error_bounded_by_construction(self, spark):
        from shaper_spark.operators.dedup import minhash_estimate_report

        docs = spark.table("documents").limit(200)
        out = minhash_estimate_report(docs, "doc_id", "text").collect()
        for r in out:
            assert 0.0 <= r["est_jaccard"] <= 1.0
            assert 0.0 <= r["exact_jaccard"] <= 1.0
            assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["exact_jaccard"])) < 2e-6


class TestMethodAgreementReport:
    def test_identical_pair_lands_in_both_at_full_jaccard(self, spark):
        from shaper_spark.operators.dedup import method_agreement_report

        txt = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        df = spark.createDataFrame(
            [(1, txt), (2, txt), (3, "q1 q2 q3 q4 q5 q6 q7 q8")],
            "doc_id long, text string",
        )
        rows = method_agreement_report(df, "doc_id", "text").collect()
        by = {r.method: r for r in rows}
        # the identical pair is found by BOTH methods (LSH: equal
        # signatures; simhash: hamming 0) and scores exact jaccard 1
        assert "both" in by
        b = by["both"]
        assert b.n_pairs >= 1 and b.n_true_pairs >= 1
        assert b.mean_jaccard_micro >= 500000

    def test_cells_partition_the_candidate_union(self, spark):
        from shaper_spark.operators.dedup import (
            lsh_candidate_pairs,
            method_agreement_report,
            simhash_near_dups,
        )

        docs = spark.table("documents").filter("doc_id < 150")
        mh = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(
                docs, "doc_id", "text", 3, 8, 4
            ).collect()
        }
        sh = {
            (r.id_a, r.id_b)
            for r in simhash_near_dups(
                docs, "doc_id", "text", 32, 3
            ).collect()
        }
        rows = method_agreement_report(
            docs, "doc_id", "text", k=3, num_hashes=8, bands=4,
            bits=32, max_hamming=3,
        ).collect()
        by = {r.method: r.n_pairs for r in rows}
        assert by.get("both", 0) == len(mh & sh)
        assert by.get("minhash_only", 0) == len(mh - sh)
        assert by.get("simhash_only", 0) == len(sh - mh)

    def test_true_pairs_never_exceed_pairs(self, spark):
        from shaper_spark.operators.dedup import method_agreement_report

        docs = spark.table("documents").filter("doc_id < 150")
        for r in method_agreement_report(docs, "doc_id", "text").collect():
            assert 0 <= r.n_true_pairs <= r.n_pairs
            assert 0 <= r.true_frac_micro <= 1000000
            assert 0 <= r.mean_jaccard_micro <= 1000000


class TestPca:
    def test_components_orthonormal_and_variance_ordered(self, spark):
        import numpy as np

        from shaper_spark.operators.linalg import embedding_pca

        rng = np.random.RandomState(0)
        # anisotropic cloud: strong first axis
        base = rng.standard_normal((300, 4)) * np.array([5.0, 2.0, 1.0, 0.1])
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(base)],
            "id long, v array<double>",
        )
        comps, var = embedding_pca(df, "v", 4, 3)
        assert comps.shape == (3, 4)
        np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-6)
        assert var[0] >= var[1] >= var[2] > 0
        # first axis dominated by coordinate 0 (the 5.0 direction)
        assert abs(comps[0][0]) > 0.9

    def test_projection_matches_numpy(self, spark):
        import numpy as np

        from shaper_spark.operators.linalg import (
            embedding_pca,
            embedding_pca_project,
        )

        rng = np.random.RandomState(1)
        X = rng.standard_normal((100, 5))
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(X)],
            "id long, v array<double>",
        )
        comps, _ = embedding_pca(df, "v", 5, 2)
        got = {
            r["id"]: np.array(r["proj"])
            for r in embedding_pca_project(df, "id", "v", 5, 2).collect()
        }
        want = X @ comps.T
        for i in range(100):
            np.testing.assert_allclose(got[i], want[i], atol=1e-6)

    def test_fit_deterministic(self, spark):
        import numpy as np

        from shaper_spark.operators.linalg import embedding_pca

        df = spark.table("embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        a, va = embedding_pca(df, "v", 64, 4)
        b, vb = embedding_pca(df, "v", 64, 4)
        np.testing.assert_allclose(a, b, atol=1e-9)
        assert va == vb

    def test_rejects_bad_components(self, spark):
        from shaper_spark.operators.linalg import embedding_pca

        with pytest.raises(ValueError):
            embedding_pca(spark.range(1), "v", 4, 0)
        with pytest.raises(ValueError):
            embedding_pca(spark.range(1), "v", 4, 5)

    def test_whitened_projection_unit_variance(self, spark):
        import numpy as np

        from shaper_spark.operators.linalg import embedding_pca_project

        rng = np.random.RandomState(5)
        X = rng.standard_normal((400, 4)) * np.array([6.0, 3.0, 1.0, 0.5])
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(X)],
            "id long, v array<double>",
        )
        proj = np.vstack([
            r["proj"]
            for r in embedding_pca_project(
                df, "id", "v", 4, 3, whiten=True
            ).collect()
        ])
        var = proj.var(axis=0)
        np.testing.assert_allclose(var, np.ones(3), rtol=0.05)


class TestIvfRecallCurve:
    def test_monotone_and_exact_at_full_probe(self, spark):
        from shaper_spark.operators.similarity import ivf_recall_curve

        emb = spark.table("embeddings")
        rows = ivf_recall_curve(
            emb, emb.filter("vec_id < 10"), k=3, n_cells=8
        ).collect()
        assert [r.n_probe for r in rows] == list(range(1, 9))
        hits = [r.n_hit for r in rows]
        assert hits == sorted(hits)  # monotone non-decreasing
        assert rows[-1].recall_micro == 1_000_000  # exact at n_probe=n_cells
        assert all(r.n_exact == rows[0].n_exact for r in rows)

    def test_numpy_argmax_matches_literal_chain_argmax(self, spark):
        # the corpus side assigns cells with a numpy float64 matmul;
        # the oracle evaluates explicit literal dot chains.  Pin that
        # both argmaxes agree on the real corpus (a disagreement means
        # a near-exact cell tie crossed the summation-order ulp).
        from pyspark.sql import functions as F

        from shaper_spark.operators.similarity import (
            chain_dot_sql,
            seeded_unit_centroids,
        )
        import numpy as np

        cents = seeded_unit_centroids(16, 64, 42)
        emb = spark.table("embeddings")
        elem = "element_at({v}, {i})"
        sims = [chain_dot_sql("embedding", c, elem) for c in cents]
        arr = "array(" + ", ".join(sims) + ")"
        chain = {
            r.vec_id: r.cell
            for r in emb.select(
                "vec_id",
                (
                    F.expr(f"array_position({arr}, array_max({arr}))") - 1
                ).alias("cell"),
            ).collect()
        }
        rows = emb.select("vec_id", "embedding").collect()
        mat = np.array([r.embedding for r in rows], dtype=np.float64)
        npx = dict(
            zip((r.vec_id for r in rows), (mat @ cents.T).argmax(axis=1))
        )
        diffs = {k for k in chain if chain[k] != npx[k]}
        assert not diffs, sorted(diffs)[:5]

    def test_fold_dot_equals_literal_chain(self, spark):
        # the query side evaluates fold_dot_sql (aggregate/zip_with
        # loop — codegen-sized) where the oracle evaluates the
        # unrolled literal chain.  Pin value equality for every
        # (vector, centroid) pair on the real corpus: the fold is the
        # same left-to-right IEEE sequence, differing only in the 0.0
        # seed (±0.0, comparison-invisible).
        from pyspark.sql import functions as F

        from shaper_spark.operators.similarity import (
            chain_dot_sql,
            fold_dot_sql,
            seeded_unit_centroids,
        )

        cents = seeded_unit_centroids(16, 64, 42)
        emb = spark.table("embeddings")
        elem = "element_at({v}, {i})"
        bad = emb.select(
            "vec_id",
            *[
                (
                    F.expr(chain_dot_sql("embedding", c, elem))
                    != F.expr(fold_dot_sql("embedding", c))
                ).alias(f"d{i}")
                for i, c in enumerate(cents)
            ],
        ).filter(" OR ".join(f"d{i}" for i in range(len(cents))))
        assert bad.count() == 0

    def test_seeded_centroids_unit_norm_deterministic(self, spark):
        import numpy as np

        from shaper_spark.operators.similarity import seeded_unit_centroids

        a = seeded_unit_centroids(16, 64, 42)
        b = seeded_unit_centroids(16, 64, 42)
        np.testing.assert_array_equal(a, b)
        np.testing.assert_allclose(
            np.linalg.norm(a, axis=1), np.ones(16), atol=1e-12
        )
