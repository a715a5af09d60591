"""Round-4 training-pipeline operators: repetition stats, length
histogram, PII scrub, n-gram decontamination, source mix weights."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shaper_spark.operators.decontam import ngram_decontaminate
from shaper_spark.operators.pii import pii_scrub
from shaper_spark.operators.sampling import source_mix_weights
from shaper_spark.operators.text import length_histogram, repetition_stats


class TestRepetitionStats:
    def rows(self, spark, texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["id", "text"]
        )
        return {
            r["id"]: r.asDict()
            for r in repetition_stats(df, "id", "text").collect()
        }

    def test_all_same_word(self, spark):
        out = self.rows(spark, ["a a a a"])[0]
        assert out["n_words"] == 4
        assert out["dup_word_frac"] == pytest.approx(0.75)
        assert out["n_bigrams"] == 3
        assert out["top_bigram_frac"] == pytest.approx(1.0)

    def test_all_distinct(self, spark):
        out = self.rows(spark, ["a b c d"])[0]
        assert out["dup_word_frac"] == 0.0
        assert out["n_bigrams"] == 3
        assert out["top_bigram_frac"] == pytest.approx(1 / 3, abs=1e-6)

    def test_single_word_doc_has_no_bigrams(self, spark):
        out = self.rows(spark, ["solo"])[0]
        assert out["n_words"] == 1
        assert out["dup_word_frac"] == 0.0
        assert out["n_bigrams"] == 0
        assert out["top_bigram_frac"] is None

    def test_repeated_bigram_dominates(self, spark):
        # "x y" occurs 3 times of 5 bigrams
        out = self.rows(spark, ["x y x y x y"])[0]
        assert out["n_bigrams"] == 5
        assert out["top_bigram_frac"] == pytest.approx(0.6)


class TestLengthHistogram:
    def test_power_of_two_buckets(self, spark):
        df = spark.createDataFrame(
            [(v,) for v in [1, 2, 3, 4, 5, 8, 9, 0, -3]], ["n"]
        )
        rows = {
            r["bucket_lo"]: r.asDict()
            for r in length_histogram(df, "n").collect()
        }
        assert set(rows) == {1, 2, 4, 8}  # non-positive filtered out
        assert rows[2]["n"] == 2 and rows[2]["min_v"] == 2 and rows[2]["max_v"] == 3
        assert rows[8]["n"] == 2 and rows[8]["max_v"] == 9


class TestPiiScrub:
    def test_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail john.doe@x.org ip 10.0.0.1 tel 12-345-678-9012"),
                (2, "nothing personal here"),
            ],
            ["id", "t"],
        )
        rows = {r["id"]: r.asDict() for r in pii_scrub(df, "id", "t").collect()}
        r1 = rows[1]
        assert (r1["n_email"], r1["n_ip"], r1["n_phone"]) == (1, 1, 1)
        assert r1["clean_text"] == "mail [EMAIL] ip [IP] tel [PHONE]"
        assert r1["n_chars_clean"] == len(r1["clean_text"])
        r2 = rows[2]
        assert (r2["n_email"], r2["n_ip"], r2["n_phone"]) == (0, 0, 0)
        assert r2["clean_text"] == "nothing personal here"

    def test_email_host_dots_not_double_counted_as_ip(self, spark):
        # the email is redacted before the IP pass runs, and the IP
        # count (on the original text) needs all-numeric octets
        df = spark.createDataFrame([(1, "a1@b2.cc more")], ["id", "t"])
        r = pii_scrub(df, "id", "t").collect()[0]
        assert r["n_email"] == 1 and r["n_ip"] == 0
        assert r["clean_text"] == "[EMAIL] more"


class TestDecontam:
    def mk(self, spark, rows):
        return spark.createDataFrame(rows, ["id", "text"])

    def test_shared_ngrams_counted(self, spark):
        train = self.mk(
            spark,
            [(10, "the quick brown fox jumps"), (11, "lazy dog sleeps all day")],
        )
        ev = self.mk(
            spark,
            [(1, "see the quick brown fox run"), (2, "completely clean text here")],
        )
        out = {
            r["eval_id"]: r.asDict()
            for r in ngram_decontaminate(train, ev, "id", "text", n=3).collect()
        }
        # eval 1 shares "the quick brown" and "quick brown fox" with train 10
        assert out[1]["n_shared_grams"] == 2
        assert out[1]["n_train_docs"] == 1
        assert 2 not in out  # clean doc drops out (inner semantics)

    def test_max_df_drops_boilerplate_grams(self, spark):
        boiler = "all rights reserved worldwide"
        train = self.mk(spark, [(i, boiler) for i in range(5)])
        ev = self.mk(spark, [(1, boiler)])
        assert (
            ngram_decontaminate(train, ev, "id", "text", n=3, max_df=4).count()
            == 0
        )
        hit = ngram_decontaminate(train, ev, "id", "text", n=3, max_df=5)
        assert hit.collect()[0]["n_train_docs"] == 5


class TestWeightedSample:
    def test_matches_python_reference(self, spark):
        import hashlib
        import math

        from shaper_spark.operators.sampling import weighted_sample

        rows = [(i, (i * 37) % 100 + 1) for i in range(1, 200)]
        df = spark.createDataFrame(rows, ["id", "w"])
        got = sorted(
            r["id"] for r in weighted_sample(df, "id", "w", 10).collect()
        )

        def key(i, w):
            h = hashlib.md5(f"wsample:{i}".encode()).hexdigest()[:8]
            u = max(int(h, 16) / 2**32, 1e-10)
            return math.log(u) / w

        want = sorted(
            sorted(rows, key=lambda r: (-key(*r), r[0]))[:10]
        )
        assert got == [i for i, _ in want]

    def test_nonpositive_weights_excluded(self, spark):
        from shaper_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(1, 5), (2, 0), (3, -2)], ["id", "w"]
        )
        got = {r["id"] for r in weighted_sample(df, "id", "w", 10).collect()}
        assert got == {1}

    def test_take_ordered_plan(self, spark):
        from shaper_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame([(i, i + 1) for i in range(50)], ["id", "w"])
        plan = (
            weighted_sample(df, "id", "w", 5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan  # no global sort shuffle


class TestTokenStats:
    def test_extra_cols_pass_through_unchanged(self, spark):
        # extra_cols carries attribute columns through the stats
        # projection (the join-free grouping shape text_token_stats
        # uses); the stat values must be byte-identical to the default
        # call's
        from shaper_spark.operators.text import token_stats

        df = spark.createDataFrame(
            [(1, "a bb ccc", "en"), (2, "x", "de")],
            ["id", "text", "lang"],
        )
        plain = {
            r["id"]: r.asDict()
            for r in token_stats(df, "id", "text").collect()
        }
        extra = {
            r["id"]: r.asDict()
            for r in token_stats(
                df, "id", "text", extra_cols=("lang",)
            ).collect()
        }
        assert extra[1].pop("lang") == "en"
        assert extra[2].pop("lang") == "de"
        assert extra == plain
        assert plain[1]["n_tokens"] == 3 and plain[1]["n_chars"] == 8

    def test_extra_col_colliding_with_output_raises(self, spark):
        from shaper_spark.operators.text import token_stats

        df = spark.createDataFrame(
            [(1, "a bb", 7)], ["id", "text", "n_chars"]
        )
        with pytest.raises(ValueError, match="'n_chars'"):
            token_stats(df, "id", "text", extra_cols=("n_chars",))


class TestTfidf:
    def test_known_values(self, spark):
        import math

        from shaper_spark.operators.text import tfidf_top_terms

        df = spark.createDataFrame(
            [(1, "a a b"), (2, "b c")], ["id", "text"]
        )
        rows = {
            (r["id"], r["term"]): r.asDict()
            for r in tfidf_top_terms(df, "id", "text", top_k=3).collect()
        }
        a = rows[(1, "a")]
        assert a["tf"] == 2 and a["df"] == 1
        assert a["tfidf"] == pytest.approx(
            round(2 * (math.log(3 / 2) + 1), 6)
        )
        assert a["rank"] == 1  # highest tfidf in doc 1
        b2 = rows[(2, "b")]
        assert b2["df"] == 2
        # shared term scores ln(1)+1 = 1.0 per occurrence
        assert b2["tfidf"] == pytest.approx(1.0)

    def test_gram_exchange_shared_with_df_branch(self, spark, sf_dir):
        # the document-frequency branch must REUSE the (id, term)
        # gram-aggregation exchange, not re-explode the corpus — the
        # count(when(tf >= 1, 1)) spelling keeps the subtrees
        # canonically identical (the dsir isNotNull idiom; a plain
        # count(1) lets column pruning degrade the tf aggregate to a
        # distinct and the explode runs twice)
        from shaper_spark.operators.text import tfidf_top_terms
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        out = tfidf_top_terms(spark.table("documents"), "doc_id", "text")
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        assert final.count("ReusedExchange") >= 1
        # one corpus explode: tf and df both stream from it
        assert final.count("Generate") == 1

    def test_top_k_limit_and_tiebreak(self, spark):
        from shaper_spark.operators.text import tfidf_top_terms

        df = spark.createDataFrame([(1, "x y z w v")], ["id", "text"])
        out = tfidf_top_terms(df, "id", "text", top_k=2).collect()
        assert len(out) == 2
        # all terms tie (tf=1, df=1): alphabetical tiebreak
        assert sorted(r["term"] for r in out) == ["v", "w"]


class TestSourceMixWeights:
    def test_alpha_tempering(self, spark):
        df = spark.createDataFrame(
            [("a",)] * 1 + [("b",)] * 4, ["src"]
        )
        rows = {
            r["src"]: r.asDict()
            for r in source_mix_weights(df, "src", alpha=0.5).collect()
        }
        # sqrt weighting: 1 vs 2 -> 1/3, 2/3
        assert rows["a"]["weight"] == pytest.approx(1 / 3, abs=1e-6)
        assert rows["b"]["weight"] == pytest.approx(2 / 3, abs=1e-6)
        assert rows["a"]["n_docs"] == 1 and rows["b"]["n_docs"] == 4

    def test_weights_sum_to_one(self, spark):
        df = spark.createDataFrame(
            [(f"s{i % 7}",) for i in range(100)], ["src"]
        )
        total = (
            source_mix_weights(df, "src")
            .agg(F.sum("weight").alias("s"))
            .collect()[0]["s"]
        )
        assert total == pytest.approx(1.0, abs=1e-4)


class TestGopherQualityFilter:
    def verdicts(self, spark, texts, **kw):
        from shaper_spark.operators.text import gopher_quality_filter

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["id", "text"]
        )
        return {
            r["id"]: r.asDict()
            for r in gopher_quality_filter(df, "id", "text", **kw).collect()
        }

    def test_short_doc_fails_word_count(self, spark):
        out = self.verdicts(spark, ["aaa bbb ccc"], min_words=5)
        assert not out[0]["keep"]
        assert out[0]["reasons"] == ["word_count"]

    def test_clean_doc_keeps(self, spark):
        text = " ".join(f"word{i}" for i in range(60))
        out = self.verdicts(spark, [text])
        assert out[0]["keep"] and out[0]["reasons"] == []

    def test_repeated_doc_fails_dup_and_bigram(self, spark):
        text = "spam " * 59 + "spam"
        out = self.verdicts(spark, [text.strip()], min_words=5)
        assert not out[0]["keep"]
        assert "dup_words" in out[0]["reasons"]
        assert "top_bigram" in out[0]["reasons"]

    def test_long_words_fail_avg_word_len(self, spark):
        text = " ".join("x" * 20 for _ in range(60))
        out = self.verdicts(spark, [text])
        assert "avg_word_len" in out[0]["reasons"]

    def test_multiple_reasons_sorted(self, spark):
        out = self.verdicts(spark, ["a a a a"], min_words=50)
        assert out[0]["reasons"] == sorted(out[0]["reasons"])
        assert "word_count" in out[0]["reasons"]


class TestZipfSlope:
    def test_matches_numpy_least_squares(self, spark):
        import math

        import numpy as np

        from shaper_spark.operators.text import zipf_slope

        texts = [
            "a a a a a a b b b c c d",
            "a a b b c d e e e a b a",
            "f g a b a c b a d e a b",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["id", "text"]
        )
        row = zipf_slope(df, "text", min_tf=1).collect()[0]

        from collections import Counter

        tf = Counter(t for s in texts for t in s.split())
        ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
        x = np.log(np.arange(1, len(ranked) + 1, dtype=float))
        y = np.log(np.array([c for _, c in ranked], dtype=float))
        slope, _ = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        assert row["n_terms"] == len(ranked)
        assert row["slope"] == pytest.approx(slope, abs=1e-5)
        assert row["r2"] == pytest.approx(r * r, abs=1e-5)
        # a frequency-sorted vocabulary always slopes downward
        assert row["slope"] < 0

    def test_min_tf_trims_hapax(self, spark):
        from shaper_spark.operators.text import zipf_slope

        df = spark.createDataFrame(
            [(0, "x x x y y once")], ["id", "text"]
        )
        row = zipf_slope(df, "text", min_tf=2).collect()[0]
        assert row["n_terms"] == 2  # 'once' trimmed


class TestTrainingCorpusStages:
    def test_funnel_monotone_and_consistent(self, spark):
        from shaper_spark.operators.pipeline import training_corpus_stages

        texts = {
            # near-duplicate pair (case/punct variants) → one survives
            1: " ".join(f"word{i}" for i in range(60)),
            2: " ".join(f"WORD{i}!" for i in range(60)),
            # too short → quality drop
            3: "short doc only",
            # clean unique docs
            **{i: " ".join(f"t{i}x{j}" for j in range(70)) for i in range(4, 20)},
        }
        df = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], ["doc_id", "text"]
        )
        out = {
            r["stage"]: r["n_docs"]
            for r in training_corpus_stages(df).collect()
        }
        assert out["0_raw"] == len(texts)
        assert out["1_normalized_dedup"] == len(texts) - 1  # dup collapsed
        assert out["2_quality"] == out["1_normalized_dedup"] - 1  # short dropped
        # split partitions the quality set
        assert 0 < out["3_train_split"] <= out["2_quality"]
        # decontamination can only shrink the train side
        assert 0 <= out["4_decontaminated"] <= out["3_train_split"]

    def test_funnel_matches_explicit_operator_chain(self, spark):
        """The narrow-id funnel must produce the exact counts of
        chaining the §2C operators one by one (the docstring's claim)."""
        from pyspark.sql import functions as F

        from shaper_spark.operators.decontam import ngram_decontaminate
        from shaper_spark.operators.dedup import dedup_exact_normalized
        from shaper_spark.operators.pipeline import training_corpus_stages
        from shaper_spark.operators.sampling import hash_split
        from shaper_spark.operators.text import gopher_quality_filter

        df = spark.table("documents").limit(400)
        out = {
            r["stage"]: r["n_docs"]
            for r in training_corpus_stages(df).collect()
        }
        s1 = dedup_exact_normalized(df, "text", "doc_id")
        keep = (
            gopher_quality_filter(s1, "doc_id", "text")
            .filter(F.col("keep"))
            .select(F.col("id").alias("doc_id"))
        )
        s2 = s1.join(keep, "doc_id", "left_semi")
        sp = hash_split(s2, "doc_id", {"train": 0.9, "test": 0.1})
        train = sp.filter(F.col("split") == "train")
        test = sp.filter(F.col("split") == "test")
        contaminated = ngram_decontaminate(
            test, train, "doc_id", "text", n=8
        ).select(F.col("eval_id").alias("doc_id"))
        s4 = train.join(contaminated, "doc_id", "left_anti")
        assert out == {
            "0_raw": df.count(),
            "1_normalized_dedup": s1.count(),
            "2_quality": s2.count(),
            "3_train_split": train.count(),
            "4_decontaminated": s4.count(),
        }


class TestDecontamPresplit:
    def test_identical_to_two_frame_form(self, spark):
        from pyspark.sql import functions as F

        from shaper_spark.operators.decontam import (
            ngram_decontaminate,
            ngram_decontaminate_presplit,
        )

        rows = [
            (1, "the quick brown fox jumps high", "train"),
            (2, "lazy dog sleeps all day long", "train"),
            (3, "see the quick brown fox jumps", "test"),
            (4, "totally clean evaluation text here", "test"),
            (5, "ignored validation row entirely", "val"),
        ]
        docs = spark.createDataFrame(rows, ["id", "text", "split"])
        a = sorted(
            tuple(r)
            for r in ngram_decontaminate(
                docs.filter(F.col("split") == "train"),
                docs.filter(F.col("split") == "test"),
                "id", "text", n=3,
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in ngram_decontaminate_presplit(
                docs, "split", "train", "test", "id", "text", n=3
            ).collect()
        )
        assert a == b
        assert a and a[0][0] == 3  # doc 3 shares trigrams with train doc 1

    def test_max_df_equivalence(self, spark):
        from pyspark.sql import functions as F

        from shaper_spark.operators.decontam import (
            ngram_decontaminate,
            ngram_decontaminate_presplit,
        )

        boiler = "all rights reserved worldwide inc"
        rows = [(i, boiler, "train") for i in range(5)] + [(99, boiler, "test")]
        docs = spark.createDataFrame(rows, ["id", "text", "split"])
        for cap in (4, 5):
            a = sorted(
                tuple(r)
                for r in ngram_decontaminate(
                    docs.filter(F.col("split") == "train"),
                    docs.filter(F.col("split") == "test"),
                    "id", "text", n=3, max_df=cap,
                ).collect()
            )
            b = sorted(
                tuple(r)
                for r in ngram_decontaminate_presplit(
                    docs, "split", "train", "test", "id", "text", n=3, max_df=cap
                ).collect()
            )
            assert a == b


class TestSourceKLMatrix:
    def test_matches_naive_full_vocab_kl(self, spark):
        import math
        from collections import Counter

        from shaper_spark.operators.text import source_kl_matrix

        rows = [
            (1, "a b c a", "s1"), (2, "a b d", "s1"),
            (3, "x y z", "s2"), (4, "a x", "s2"),
            (5, "a b c", "s3"),
        ]
        df = spark.createDataFrame(rows, "id int, text string, source string")
        got = {
            (r[0], r[1]): r[2]
            for r in source_kl_matrix(df, "text").collect()
        }
        docs: dict = {}
        for _, t, s in rows:
            docs.setdefault(s, []).extend(t.split())
        vocab = sorted({w for ws in docs.values() for w in ws})
        V, alpha = len(vocab), 0.5

        def P(s):
            c = Counter(docs[s])
            n = sum(c.values())
            return {
                w: (c.get(w, 0) + alpha) / (n + alpha * V) for w in vocab
            }

        for a in docs:
            for b in docs:
                if a == b:
                    continue
                pa, pb = P(a), P(b)
                exp = sum(
                    pa[w] * math.log(pa[w] / pb[w]) for w in vocab
                )
                assert abs(got[(a, b)] - round(exp, 6)) < 1e-9
        # KL is asymmetric and non-negative
        assert got[("s1", "s2")] != got[("s2", "s1")]
        assert all(v >= 0 for v in got.values())

    def test_identical_distributions_zero(self, spark):
        from shaper_spark.operators.text import source_kl_matrix

        rows = [(1, "a b c", "x"), (2, "a b c", "y")]
        df = spark.createDataFrame(rows, "id int, text string, source string")
        out = {tuple(r[:2]): r[2] for r in source_kl_matrix(df, "text").collect()}
        assert out[("x", "y")] == 0.0 and out[("y", "x")] == 0.0
        assert repr(out[("x", "y")]) == "0.0"  # never -0.0


class TestEmbeddingOutliers:
    def test_matches_numpy_z_report(self, spark):
        import numpy as np

        from shaper_spark.operators.similarity import (
            embedding_outlier_report,
        )

        rng = np.random.RandomState(7)
        rows = []
        for g in (0, 1):
            base = rng.randn(8)
            for i in range(10):
                v = base + 0.1 * rng.randn(8)
                rows.append((g * 100 + i, g, [float(x) for x in v]))
            rows.append((g * 100 + 99, g, [float(x) for x in -base]))
        df = spark.createDataFrame(rows, "id int, label int, v array<double>")
        got = {
            r["label"]: r
            for r in embedding_outlier_report(
                df, "id", "v", "label"
            ).collect()
        }
        for g in (0, 1):
            m = np.array([r[2] for r in rows if r[1] == g])
            cent = m.mean(axis=0)
            cos = m @ cent / (
                np.linalg.norm(m, axis=1) * np.linalg.norm(cent)
            )
            thr = cos.mean() - 2 * cos.std()
            r = got[g]
            assert r["n_vecs"] == len(m)
            assert abs(r["avg_cos"] - round(cos.mean(), 6)) < 1e-9
            assert abs(r["std_cos"] - round(cos.std(), 6)) < 1e-9
            assert abs(r["min_cos"] - round(cos.min(), 6)) < 1e-9
            assert r["n_outliers"] == int((cos < thr).sum()) == 1


class TestQualityLmCorrelation:
    def test_matches_manual_pearson(self, spark):
        import statistics

        from shaper_spark.operators.text import (
            quality_lm_correlation,
            quality_score,
            unigram_lm_scores,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog today", "s1"),
            (2, "zz qq xx vv kk jj pp ww", "s1"),
            (3, "the cat and the dog and the bird in the tree", "s1"),
            (4, "a b c d e f g h i j k l m n o p", "s2"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string, source string")
        out = {
            r["source"]: r
            for r in quality_lm_correlation(df, "doc_id", "text").collect()
        }
        q = {r["doc_id"]: r["quality"] for r in quality_score(df, "doc_id", "text").collect()}
        b = {r["id"]: r["bits_per_token"] for r in unigram_lm_scores(df, "doc_id", "text").collect()}
        xs = [q[i] for i in (1, 2, 3)]
        ys = [b[i] for i in (1, 2, 3)]
        exp = statistics.correlation(xs, ys)
        assert abs(out["s1"]["corr_quality_bits"] - round(exp, 6)) < 1e-6
        assert out["s1"]["n_docs"] == 3
        # single-doc source: corr undefined -> NULL, not NaN
        assert out["s2"]["corr_quality_bits"] is None


class TestCorpusDiff:
    def test_four_way_classification(self, spark):
        from shaper_spark.operators.pipeline import corpus_diff_report

        v1 = spark.createDataFrame(
            [(1, "same text"), (2, "will change"), (3, "goes away")],
            "id int, text string",
        )
        v2 = spark.createDataFrame(
            [(1, "same text"), (2, "did change"), (4, "brand new")],
            "id int, text string",
        )
        out = {
            r["status"]: r["n_docs"]
            for r in corpus_diff_report(v1, v2, "id", "text").collect()
        }
        assert out == {
            "added": 1, "removed": 1, "changed": 1, "unchanged": 1
        }

    def test_normalization_equates_case_punct(self, spark):
        from shaper_spark.operators.pipeline import corpus_diff_report

        v1 = spark.createDataFrame([(1, "Hello, World!")], "id int, text string")
        v2 = spark.createDataFrame([(1, "hello world")], "id int, text string")
        out = {
            r["status"]: r["n_docs"]
            for r in corpus_diff_report(v1, v2, "id", "text").collect()
        }
        assert out == {"unchanged": 1}


class TestPsiDriftMatrix:
    def test_identical_distributions_zero(self, spark):
        from shaper_spark.operators.text import psi_drift_matrix

        rows = [(g, v) for g in ("a", "b") for v in (3, 9, 40, 40, 700)]
        df = spark.createDataFrame(rows, "grp string, v long")
        out = psi_drift_matrix(df, "v", "grp").collect()
        assert len(out) == 1
        assert out[0].group_a == "a" and out[0].group_b == "b"
        assert out[0].psi == 0.0
        # canonicalized: never -0.0
        assert str(out[0].psi) == "0.0"

    def test_shifted_distribution_scores_high(self, spark):
        from shaper_spark.operators.text import psi_drift_matrix

        rows = [("a", v) for v in (2, 3, 2, 3, 2)] + [
            ("b", v) for v in (500, 600, 700, 800, 900)
        ]
        df = spark.createDataFrame(rows, "grp string, v long")
        (r,) = psi_drift_matrix(df, "v", "grp").collect()
        assert r.psi > 0.25  # "major shift" threshold

    def test_symmetry_invariant_under_group_swap(self, spark):
        from shaper_spark.operators.text import psi_drift_matrix

        rows = [("a", 2), ("a", 9), ("b", 2), ("b", 600)]
        df = spark.createDataFrame(rows, "grp string, v long")
        swapped = df.replace({"a": "b", "b": "a"}, subset=["grp"])
        (r1,) = psi_drift_matrix(df, "v", "grp").collect()
        (r2,) = psi_drift_matrix(swapped, "v", "grp").collect()
        assert r1.psi == r2.psi  # PSI is symmetric in (a, b)

    def test_nonpositive_values_excluded(self, spark):
        from shaper_spark.operators.text import psi_drift_matrix

        rows = [("a", 0), ("a", -5), ("a", 4), ("b", 4)]
        df = spark.createDataFrame(rows, "grp string, v long")
        (r,) = psi_drift_matrix(df, "v", "grp").collect()
        assert r.psi == 0.0  # only the v=4 rows count; identical dists

    def test_matches_python_reference(self, spark, sf_dir):
        import math
        from collections import Counter

        from shaper_spark.operators.text import psi_drift_matrix
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        docs = spark.table("documents")
        got = {
            (r.group_a, r.group_b): r.psi
            for r in psi_drift_matrix(docs, "n_chars", "source").collect()
        }
        data = docs.select("source", "n_chars").collect()
        cnt = Counter()
        for r in data:
            if r.n_chars > 0:
                cnt[(r.source, 2 ** math.floor(math.log2(r.n_chars)))] += 1
        bins = sorted({b for _, b in cnt})
        groups = sorted({g for g, _ in cnt})
        tot = {
            g: sum(c for (gg, _), c in cnt.items() if gg == g) for g in groups
        }
        p = {
            (g, b): (cnt.get((g, b), 0) + 0.5) / (tot[g] + 0.5 * len(bins))
            for g in groups
            for b in bins
        }
        for i, a in enumerate(groups):
            for b2 in groups[i + 1 :]:
                psi = sum(
                    (p[(a, bb)] - p[(b2, bb)])
                    * (math.log(p[(a, bb)]) - math.log(p[(b2, bb)]))
                    for bb in bins
                )
                assert abs(got[(a, b2)] - round(psi, 6)) < 1e-6


class TestFilterThresholdSweep:
    def test_monotone_and_bounded(self, spark, sf_dir):
        from shaper_spark.operators.text import filter_threshold_sweep
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        out = filter_threshold_sweep(
            spark.table("documents"), "doc_id", "text", "source"
        ).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r.source, []).append(r)
        for rows in by_src.values():
            rows.sort(key=lambda r: r.threshold_micro)
            survives = [r.n_survive for r in rows]
            # survival is non-increasing in the threshold
            assert survives == sorted(survives, reverse=True)
            for r in rows:
                assert 0 <= r.n_survive <= r.n_docs
                assert r.survive_micro == (
                    r.n_survive * 2000000 + r.n_docs
                ) // (2 * r.n_docs)

    def test_threshold_zero_keeps_everything(self, spark):
        from shaper_spark.operators.text import filter_threshold_sweep

        df = spark.createDataFrame(
            [(1, "a b c", "s"), (2, "d e", "s")],
            "doc_id long, text string, source string",
        )
        (r,) = filter_threshold_sweep(
            df, "doc_id", "text", "source", thresholds=(0.0,)
        ).collect()
        assert r.n_survive == r.n_docs == 2 and r.survive_micro == 1000000

    def test_single_hash_agg_no_grid_explode(self, spark, sf_dir):
        from shaper_spark.operators.text import filter_threshold_sweep
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        df = filter_threshold_sweep(
            spark.table("documents"), "doc_id", "text", "source"
        )
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # thresholds are conditional sums in one aggregate — the grid
        # never multiplies corpus rows before the shuffle
        assert final.count("Generate explode") <= 1  # stack() only

    def test_empty_thresholds_rejected(self, spark):
        import pytest as _pytest

        from shaper_spark.operators.text import filter_threshold_sweep

        df = spark.createDataFrame([(1, "x", "s")], "doc_id long, text string, source string")
        with _pytest.raises(ValueError):
            filter_threshold_sweep(df, "doc_id", "text", "source", thresholds=())


class TestBoilerplateGrams:
    def test_planted_boilerplate_dominates(self, spark):
        from shaper_spark.operators.text import boilerplate_grams

        footer = "all rights reserved worldwide"
        rows = [
            (i, f"doc {i} unique words here {footer}", f"s{i % 3}")
            for i in range(10)
        ] + [(100, "totally unrelated text body content", "s0")]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = boilerplate_grams(df, "doc_id", "text", k=4, top_n=5).collect()
        assert out[0].gram == footer
        assert out[0].n_docs == 10 and out[0].n_sources == 3
        assert abs(out[0].coverage - 10 / 11) < 1e-6

    def test_min_docs_excludes_singletons(self, spark):
        from shaper_spark.operators.text import boilerplate_grams

        df = spark.createDataFrame(
            [(1, "a b c d", "s"), (2, "e f g h", "s")],
            "doc_id long, text string, source string",
        )
        assert boilerplate_grams(df, "doc_id", "text", k=4).count() == 0

    def test_wide_grams_only_shuffle_after_winner_dedup(self, spark, sf_dir):
        # the doctrine: the corpus-scale counting exchanges carry only
        # md5 hashes; a gram STRING may cross the wire solely in the
        # winners-side distinct, whose keys are (h, gram) — its partial
        # HashAggregate collapses each mapper to <= top_n rows before
        # the exchange (dupspans.py rationale)
        from shaper_spark.operators.text import boilerplate_grams
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        df = boilerplate_grams(spark.table("documents"), "doc_id", "text")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        for line in final.splitlines():
            if "Exchange hashpartitioning" in line:
                keys = line.split("hashpartitioning(")[1]
                if "gram" in keys.split(")")[0]:
                    # only the (h, gram) distinct — never a count shuffle
                    assert keys.split(")")[0].startswith("h#")

    def test_validation(self, spark):
        import pytest as _pytest

        from shaper_spark.operators.text import boilerplate_grams

        df = spark.createDataFrame(
            [(1, "a b c d", "s")], "doc_id long, text string, source string"
        )
        with _pytest.raises(ValueError):
            boilerplate_grams(df, "doc_id", "text", top_n=0)


class TestCanaryScan:
    def test_counts_docs_occurrences_and_first_id(self, spark):
        from shaper_spark.operators.text import canary_scan

        df = spark.createDataFrame(
            [
                (1, "x CANARY-a y CANARY-a z"),
                (2, "plain"),
                (3, "CANARY-b once"),
                (4, "CANARY-a again"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.canary: (r.n_docs, r.n_occurrences, r.first_doc_id)
            for r in canary_scan(
                df, "doc_id", "text", ["CANARY-a", "CANARY-b", "CANARY-c"]
            ).collect()
        }
        assert out["CANARY-a"] == (2, 3, 1)
        assert out["CANARY-b"] == (1, 1, 3)
        assert out["CANARY-c"] == (0, 0, None)

    def test_overlap_free_counting(self, spark):
        # replace-arithmetic counts non-overlapping occurrences, like
        # every engine's replace() — "aaa" contains "aa" once
        from shaper_spark.operators.text import canary_scan

        df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
        (r,) = canary_scan(df, "doc_id", "text", ["aa"]).collect()
        assert r.n_occurrences == 1

    def test_quote_in_canary(self, spark):
        from shaper_spark.operators.text import canary_scan

        df = spark.createDataFrame(
            [(1, "it's here")], "doc_id long, text string"
        )
        (r,) = canary_scan(df, "doc_id", "text", ["it's"]).collect()
        assert r.n_docs == 1

    def test_empty_canaries_rejected(self, spark):
        import pytest as _pytest

        from shaper_spark.operators.text import canary_scan

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            canary_scan(df, "doc_id", "text", [])

    def test_single_scan_plan(self, spark, sf_dir):
        from shaper_spark.operators.text import canary_scan
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        df = canary_scan(
            spark.table("documents"), "doc_id", "text", ["a", "b", "c"]
        )
        df.collect()
        final = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("Initial Plan")[0]
        )
        assert final.count("FileScan parquet") == 1


class TestBm25Scores:
    def test_matches_python_reference(self, spark, sf_dir):
        import math
        from collections import Counter

        from shaper_spark.operators.text import bm25_scores
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        docs = spark.table("documents")
        TERMS = ["spark", "window", "hash"]
        got = [
            (r.doc_id, r.n_terms_hit, r.score)
            for r in bm25_scores(docs, "doc_id", "text", TERMS).collect()
        ]
        data = docs.select("doc_id", "text").collect()
        N = len(data)
        lens = {r.doc_id: len(r.text.split(" ")) for r in data}
        avg = sum(lens.values()) / N
        tf = {}
        for r in data:
            c = Counter(w for w in r.text.split(" ") if w in TERMS)
            if c:
                tf[r.doc_id] = c
        dfq = Counter()
        for c in tf.values():
            for t in c:
                dfq[t] += 1

        def score(d):
            s = 0.0
            for t, f in tf[d].items():
                idf = math.log(1 + (N - dfq[t] + 0.5) / (dfq[t] + 0.5))
                s += (
                    idf * f * 2.2
                    / (f + 1.2 * (0.25 + 0.75 * lens[d] / avg))
                )
            return round(s, 6)

        want = sorted(
            ((d, len(tf[d]), score(d)) for d in tf),
            key=lambda x: (-x[2], x[0]),
        )[:20]
        assert [(d, s) for d, _, s in want] == [(d, s) for d, _, s in got]
        assert [h for _, h, _ in want] == [h for _, h, _ in got]

    def test_rare_term_outranks_common(self, spark):
        from shaper_spark.operators.text import bm25_scores

        rows = [(i, "common filler words here") for i in range(20)]
        rows[0] = (0, "common rareterm filler")
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = bm25_scores(
            df, "doc_id", "text", ["common", "rareterm"], top_k=3
        ).collect()
        assert out[0].doc_id == 0  # the rare-term doc wins

    def test_validation(self, spark):
        import pytest as _pytest

        from shaper_spark.operators.text import bm25_scores

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            bm25_scores(df, "doc_id", "text", [])
        with _pytest.raises(ValueError):
            bm25_scores(df, "doc_id", "text", ["x"], top_k=0)


class TestDatasetCard:
    def test_known_values(self, spark):
        from shaper_spark.operators.pipeline import dataset_card

        rows = [
            (1, "a b c", "s1", "en"),
            (2, "a b c", "s1", "en"),      # exact dup of 1
            (3, "A, b ... c!", "s2", "fr"),  # normalized dup of 1
            (4, "totally different words here", "s2", "en"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string, lang string"
        )
        card = {r.metric: r.value for r in dataset_card(df).collect()}
        assert card["n_docs"] == 4.0
        assert card["n_sources"] == 2.0 and card["n_langs"] == 2.0
        assert card["n_tokens"] == 3 + 3 + 4 + 4
        # 4 docs, 2 distinct normalized texts -> dup_frac = 0.5
        assert card["exact_dup_frac_normalized"] == 0.5
        assert card["avg_tokens_per_doc"] == 3.5
        assert card["median_tokens_per_doc"] == 3.5

    def test_no_multi_countdistinct_expand(self, spark, sf_dir):
        from shaper_spark.operators.pipeline import dataset_card
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        df = dataset_card(spark.table("documents"))
        df.collect()
        final = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("Initial Plan")[0]
        )
        assert "Expand" not in final  # distincts are separate aggregates


class TestCcnetQualityBuckets:
    def test_tertiles_and_ordering(self, spark):
        from shaper_spark.operators.text import ccnet_quality_buckets

        rows = [
            (i, "a b c " + ("rare%d " % i) * (i % 4), "s1") for i in range(12)
        ] + [(100 + i, "a a a a", "s2") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = ccnet_quality_buckets(df, "doc_id", "text").collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], []).append(r)
        # every source splits into at most three buckets covering all docs
        assert sum(r["n_docs"] for r in by_src["s1"]) == 12
        assert sum(r["n_docs"] for r in by_src["s2"]) == 6
        # identical docs (s2) all share one bucket: ties stay together
        assert len(by_src["s2"]) == 1 and by_src["s2"][0]["bucket"] == "1_head"
        # buckets are ordered labels
        for r in out:
            assert r["bucket"] in ("1_head", "2_middle", "3_tail")
        # head has the lowest avg bits within a multi-bucket source
        s1 = {r["bucket"]: r["avg_bits"] for r in by_src["s1"]}
        if "3_tail" in s1 and "1_head" in s1:
            assert s1["1_head"] <= s1["3_tail"]

    def test_head_is_most_predictable(self, spark):
        from shaper_spark.operators.text import ccnet_quality_buckets

        # 6 predictable docs (common tokens) + 3 docs with rare tokens
        rows = [(i, "the the the the the the the the", "s") for i in range(6)]
        rows += [(10 + i, "zq%d xw%d vv%d uu%d tt%d ss%d rr%d qq%d" % ((i,) * 8), "s") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {(r["bucket"]): r for r in ccnet_quality_buckets(df, "doc_id", "text").collect()}
        assert out["1_head"]["n_docs"] >= 6  # the predictable block is the head
        assert out["1_head"]["avg_bits"] < out["3_tail"]["avg_bits"]


class TestNgramNoveltyCurve:
    def test_first_bucket_all_novel_and_copies_not(self, spark):
        from shaper_spark.operators.text import ngram_novelty_curve

        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        rows = [
            (1, base, 0),          # bucket 0: 3 grams, all novel
            (2, base, 1),          # bucket 1: exact copy — nothing novel
            (3, "n1 n2 n3 n4 n5 n6 n7 n8", 1),  # bucket 1: 1 new gram
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, bucket int")
        out = {r["bucket"]: r for r in
               ngram_novelty_curve(df, "doc_id", "text", "bucket", k=8).collect()}
        assert out[0]["n_distinct_grams"] == 3
        assert out[0]["n_novel_grams"] == 3
        assert out[0]["novelty_rate"] == 1.0
        assert out[1]["n_distinct_grams"] == 4  # 3 copies + 1 new
        assert out[1]["n_novel_grams"] == 1
        assert out[1]["novelty_rate"] == 0.25

    def test_short_docs_drop(self, spark):
        from shaper_spark.operators.text import ngram_novelty_curve

        df = spark.createDataFrame(
            [(1, "a b c", 0), (2, "a b c d e f g h", 1)],
            "doc_id long, text string, bucket int",
        )
        out = ngram_novelty_curve(df, "doc_id", "text", "bucket", k=8).collect()
        assert [r["bucket"] for r in out] == [1]
        assert out[0]["n_gram_occurrences"] == 1


class TestSourceJaccardMatrix:
    def test_known_overlap(self, spark):
        from shaper_spark.operators.text import source_jaccard_matrix

        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # grams: 2 distinct 8-grams
        df = spark.createDataFrame(
            [
                (1, base, "a"),
                (2, base, "b"),  # b shares all of a's grams
                (3, "x1 x2 x3 x4 x5 x6 x7 x8", "c"),  # disjoint
            ],
            "doc_id long, text string, source string",
        )
        rows = {
            (r.group_a, r.group_b): r
            for r in source_jaccard_matrix(
                df, "doc_id", "text", "source"
            ).collect()
        }
        ab = rows[("a", "b")]
        assert ab.n_inter == ab.n_a == ab.n_b == 2
        assert ab.jaccard == 1.0
        # zero-intersection pairs are absent (like the SQL join)
        assert ("a", "c") not in rows and ("b", "c") not in rows

    def test_pair_order_canonical(self, spark):
        from shaper_spark.operators.text import source_jaccard_matrix

        df = spark.createDataFrame(
            [(1, "a b c d e f g h", "z"), (2, "a b c d e f g h", "y")],
            "doc_id long, text string, source string",
        )
        (r,) = source_jaccard_matrix(df, "doc_id", "text", "source").collect()
        assert (r.group_a, r.group_b) == ("y", "z")  # a < b always


class TestPmiCollocations:
    def test_planted_collocation_ranks_first(self, spark):
        from shaper_spark.operators.text import pmi_collocations

        # "hong kong" always adjacent; fillers are independent
        rows = [(i, "hong kong " + " ".join(
            f"w{(i * 7 + j) % 5}" for j in range(6)
        )) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pmi_collocations(
            df, "doc_id", "text", top_k=5, min_count=5
        ).collect()
        assert (out[0].w1, out[0].w2) == ("hong", "kong")
        assert out[0].n_pair == 40
        # PMI ordering is non-increasing in micro units
        micros = [r.pmi_micro for r in out]
        assert micros == sorted(micros, reverse=True)

    def test_min_count_filters(self, spark):
        from shaper_spark.operators.text import pmi_collocations

        df = spark.createDataFrame(
            [(1, "p q p q p q"), (2, "r s")],
            "doc_id long, text string",
        )
        out = pmi_collocations(
            df, "doc_id", "text", top_k=10, min_count=3
        ).collect()
        pairs = {(r.w1, r.w2) for r in out}
        assert ("r", "s") not in pairs  # below min_count
        assert ("p", "q") in pairs


class TestContainmentPairs:
    """r11: Broder containment over k-gram sets (operators/dedup.py
    containment_pairs) — the truncation/extension dup family."""

    def test_verbatim_substring_scores_one(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                # doc 2 = doc 1 with a prefix AND suffix added: every
                # 3-gram of doc 1 appears in doc 2 → containment 1.0
                (2, "intro alpha beta gamma delta epsilon zeta eta "
                    "theta outro"),
                (3, "totally unrelated words about something else"),
            ],
            "doc_id int, text string",
        )
        from shaper_spark.operators.dedup import containment_pairs

        rows = {
            (r.id_a, r.id_b): r.containment
            for r in containment_pairs(
                docs, "doc_id", "text", k=3, threshold=0.9
            ).collect()
        }
        assert rows == {(1, 2): 1.0}

    def test_jaccard_would_miss_it(self, spark):
        # the same pair under-scores on Jaccard (union is inflated by
        # the container's extra grams)
        docs = spark.createDataFrame(
            [
                (1, "a b c d"),
                (2, "x1 x2 x3 x4 x5 x6 x7 x8 a b c d y1 y2 y3 y4 "
                    "y5 y6 y7 y8"),
            ],
            "doc_id int, text string",
        )
        from shaper_spark.operators.dedup import (
            containment_pairs,
            jaccard_pairs,
        )

        c = containment_pairs(
            docs, "doc_id", "text", k=3, threshold=0.9
        ).collect()
        assert [(r.id_a, r.id_b, r.containment) for r in c] == [(1, 2, 1.0)]
        j = jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect()
        assert j == []  # Jaccard ≈ 2/20 — far below any dedup cut

    def test_threshold_filters(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d zzz")],
            "doc_id int, text string",
        )
        from shaper_spark.operators.dedup import containment_pairs

        # 3-grams of doc1: {abc,bcd,cde}; doc2: {abc,bcd,cdz*}: inter 2
        # of min 3 → 0.666667 < 0.9
        assert (
            containment_pairs(
                docs, "doc_id", "text", k=3, threshold=0.9
            ).count()
            == 0
        )


class TestPiiDensityReport:
    def test_density_counts_and_rate(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "contact me a@b.com and c@d.org please", "web"),
                (2, "server at 10.0.0.1 works", "web"),
                (3, "clean text no pii here at all", "books"),
            ],
            "doc_id int, text string, source string",
        )
        from shaper_spark.operators.pii import pii_density_report

        rows = {
            r.source: r
            for r in pii_density_report(docs, "text", "source").collect()
        }
        assert rows["web"].n_email == 2
        assert rows["web"].n_ip == 1
        assert rows["web"].docs_with_pii == 2
        assert rows["books"].docs_with_pii == 0
        assert rows["books"].pii_per_1k_tokens == 0.0
        # web: 3 hits over 10 tokens → 300 per 1k
        assert rows["web"].sum_tokens == 10
        assert rows["web"].pii_per_1k_tokens == 300.0


class TestLexicalDiversity:
    def test_hand_counted_ratios(self, spark):
        from shaper_spark.operators.text import lexical_diversity

        # group a: "x x y" + "y z" → tokens 5, types 3 (x:2,y:2,z:1),
        # hapax 1 (z); bigrams: (x,x),(x,y),(y,z) → 3 tokens, 3 types
        df = spark.createDataFrame(
            [(1, "x x y", "a"), (2, "y z", "a"), (3, "q q q q", "b")],
            "doc_id long, text string, source string",
        )
        rows = {
            r.group: r
            for r in lexical_diversity(
                df, "doc_id", "text", "source"
            ).collect()
        }
        a = rows["a"]
        assert (a.n_docs, a.n_tokens, a.n_types) == (2, 5, 3)
        assert (a.n_bigrams, a.n_bigram_types) == (3, 3)
        assert a.ttr_micro == 600000
        assert a.hapax_micro == 333333
        assert a.distinct2_micro == 1000000
        # group b: all-repeat doc → minimal diversity
        b = rows["b"]
        assert (b.n_tokens, b.n_types, b.n_bigram_types) == (4, 1, 1)
        assert b.ttr_micro == 250000 and b.distinct2_micro == 333333

    def test_single_word_docs_have_no_bigrams(self, spark):
        from shaper_spark.operators.text import lexical_diversity

        df = spark.createDataFrame(
            [(1, "solo", "a"), (2, "a b", "a")],
            "doc_id long, text string, source string",
        )
        (r,) = lexical_diversity(df, "doc_id", "text", "source").collect()
        assert r.n_bigrams == 1  # only from the 2-word doc


class TestBlocklistReport:
    def test_hand_counted(self, spark):
        from shaper_spark.operators.text import blocklist_report

        df = spark.createDataFrame(
            [
                (1, "bad word bad", "a"),
                (2, "clean text here", "a"),
                (3, "bad", "b"),
            ],
            "doc_id long, text string, source string",
        )
        rows = {
            r.group: r
            for r in blocklist_report(
                df, "doc_id", "text", "source", ["bad"]
            ).collect()
        }
        a = rows["a"]
        assert (a.n_docs, a.docs_flagged, a.total_hits) == (2, 1, 2)
        assert a.flagged_micro == 500000
        # 2 hits / 6 tokens * 1000 = 333.333333 per 1k
        assert a.hits_per_1k_micro == 333333333
        b = rows["b"]
        assert (b.docs_flagged, b.total_hits) == (1, 1)
        assert b.flagged_micro == 1000000 and b.hits_per_1k_micro == 1000000000

    def test_no_hits_group_present(self, spark):
        from shaper_spark.operators.text import blocklist_report

        df = spark.createDataFrame(
            [(1, "clean only", "a")],
            "doc_id long, text string, source string",
        )
        (r,) = blocklist_report(
            df, "doc_id", "text", "source", ["bad"]
        ).collect()
        assert (r.docs_flagged, r.total_hits) == (0, 0)
        assert r.flagged_micro == 0 and r.hits_per_1k_micro == 0


class TestLengthQuantiles:
    def test_matches_duckdb_disc_convention(self, spark):
        import duckdb

        from shaper_spark.operators.text import length_quantiles

        rows = [(i % 3, v) for i, v in enumerate(range(1, 26))]
        df = spark.createDataFrame(rows, "g int, v int")
        got = {
            r.group: (r.n_docs, r.min_val, r.q_5, r.q_9, r.q_99, r.max_val)
            for r in length_quantiles(df, "g", "v").collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                    + ",".join(f"({g},{v})" for g, v in rows)
                    + ") x(g, v)")
        want = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                "SELECT g, count(*), min(v), quantile_disc(v, 0.5), "
                "quantile_disc(v, 0.9), quantile_disc(v, 0.99), max(v) "
                "FROM t GROUP BY 1"
            ).fetchall()
        }
        assert got == want

    def test_duplicate_values_pick_first_reaching_rank(self, spark):
        from shaper_spark.operators.text import length_quantiles

        df = spark.createDataFrame(
            [(1, 5)] * 9 + [(1, 100)], "g int, v int"
        )
        (r,) = length_quantiles(df, "g", "v").collect()
        assert r.q_5 == 5 and r.q_9 == 5 and r.q_99 == 100


class TestFilterInteractionMatrix:
    """r12: UpSet-style filter-overlap audit (one scan, integer flags)."""

    def test_combos_and_shares(self, spark):
        from shaper_spark.operators.text import filter_interaction_matrix

        docs = spark.createDataFrame(
            [
                # 60 words, all stopwords, no punct → none
                (1, " ".join(["the"] * 60)),
                # 3 words, stopword-rich → short only
                (2, "the and of"),
                # 3 rare words → short+lowstop
                (3, "zx qy wv"),
                # long, no stopwords, punct-heavy → punct+lowstop
                (4, " ".join(["!!!!!!!!!!"] * 60)),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.combo: (r.n_docs, r.pct_micro)
            for r in filter_interaction_matrix(
                docs, "doc_id", "text"
            ).collect()
        }
        assert rows == {
            "none": (1, 250000),
            "short": (1, 250000),
            "short+lowstop": (1, 250000),
            "punct+lowstop": (1, 250000),
        }


class TestTokenizerFertility:
    def test_hand_computed_counts(self, spark):
        from shaper_spark.operators.text import tokenizer_fertility

        docs = spark.createDataFrame(
            # "hello world": 2 words of len 5 -> 2 pieces each;
            # "abcdefgh": 1 word of len 8 -> 2 pieces
            [(1, "hello world", "s"), (2, "abcdefgh", "s")],
            "doc_id long, text string, source string",
        )
        (r,) = tokenizer_fertility(docs, "text", "source").collect()
        assert (r.n_docs, r.sum_chars, r.sum_words, r.sum_pieces) == (
            2, 19, 3, 6
        )
        # 6/3 words and 19/6 chars-per-piece, half-up micro
        assert r.fertility_micro == 2000000
        assert r.chars_per_piece_micro == (2 * 1000000 * 19 + 6) // 12

    def test_single_scan_codegen_plan(self, spark, sf_dir):
        from shaper_spark.operators.text import tokenizer_fertility
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        df = tokenizer_fertility(spark.table("documents"), "text", "source")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # one scan, one generate, all four counts in one hash-agg —
        # no interpreted HOF lambda (the session-noted trap) and no
        # second pass over the corpus for the doc-level totals
        assert final.count("Generate") == 1
        assert "aggregate(" not in final  # no higher-order lambda
        assert final.count("Scan parquet") <= 1

    def test_chunk_validated(self, spark):
        import pytest as _pytest

        from shaper_spark.operators.text import tokenizer_fertility

        df = spark.createDataFrame(
            [(1, "x", "s")], "doc_id long, text string, source string"
        )
        with _pytest.raises(ValueError):
            tokenizer_fertility(df, "text", "source", chunk=0)


class TestQualityExemplars:
    def test_matches_quality_score_extremes(self, spark, sf_dir):
        from shaper_spark.operators.text import (
            quality_exemplars,
            quality_score,
        )
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, sf_dir)
        docs = spark.table("documents").filter("doc_id < 200")
        out = quality_exemplars(docs, "doc_id", "text", "source", k=2)
        got = {}
        for r in out.collect():
            got.setdefault((r.source, r.kind), []).append(
                (r.rank, r.doc_id, r.quality_micro)
            )
        q = {
            r.source: []
            for r in quality_score(
                docs, "doc_id", "text", keep_cols=("source",),
                micro_units=True,
            ).collect()
        }
        for r in quality_score(
            docs, "doc_id", "text", keep_cols=("source",), micro_units=True
        ).collect():
            q[r.source].append((r.quality_micro, r.doc_id))
        for src, vals in q.items():
            top = sorted(vals, key=lambda t: (-t[0], t[1]))[:2]
            bot = sorted(vals, key=lambda t: (t[0], t[1]))[:2]
            assert got[(src, "top")] == [
                (i + 1, d, m) for i, (m, d) in enumerate(top)
            ]
            assert got[(src, "bottom")] == [
                (i + 1, d, m) for i, (m, d) in enumerate(bot)
            ]

    def test_group_smaller_than_k_keeps_all(self, spark):
        from shaper_spark.operators.text import quality_exemplars

        df = spark.createDataFrame(
            [(1, "the and of it", "s")],
            "doc_id long, text string, source string",
        )
        rows = quality_exemplars(df, "doc_id", "text", "source", k=3).collect()
        assert {(r.kind, r.rank) for r in rows} == {("top", 1), ("bottom", 1)}

    def test_k_validated(self, spark):
        import pytest as _pytest

        from shaper_spark.operators.text import quality_exemplars

        df = spark.createDataFrame(
            [(1, "x", "s")], "doc_id long, text string, source string"
        )
        with _pytest.raises(ValueError):
            quality_exemplars(df, "doc_id", "text", "source", k=0)


class TestJaccardThresholdCurve:
    def test_hand_computed_curve(self, spark):
        from shaper_spark.operators.dedup import jaccard_threshold_curve

        # doc1 == doc2 (jaccard 1.0); doc3 shares 3 of its 4 shingles
        # with them (jaccard 3/5 = 60%); doc4 disjoint.
        docs = spark.createDataFrame(
            [
                (1, "a b c d e f", "s"),
                (2, "a b c d e f", "s"),
                (3, "a b c d e x y", "s"),
                (4, "p q r s t u", "s"),
            ],
            "doc_id long, text string, source string",
        )
        rows = {
            r.threshold_pct: r
            for r in jaccard_threshold_curve(
                docs, "doc_id", "text", k=3,
                thresholds_pct=(50, 60, 70, 100),
            ).collect()
        }
        # pairs: (1,2) j=1.0; (1,3) and (2,3) j=3/(4+5-3)=0.5
        assert rows[50].dup_pairs == 3 and rows[50].docs_dropped == 2
        assert rows[60].dup_pairs == 1 and rows[60].docs_dropped == 1
        assert rows[70].dup_pairs == 1 and rows[70].docs_dropped == 1
        assert rows[100].dup_pairs == 1 and rows[100].docs_dropped == 1
        for r in rows.values():
            assert r.n_docs == 4
            assert r.drop_micro == (
                2 * 1000000 * r.docs_dropped + 4
            ) // 8

    def test_no_duplicates_yields_zero_rows_not_empty(self, spark):
        from shaper_spark.operators.dedup import jaccard_threshold_curve

        docs = spark.createDataFrame(
            [(1, "a b c d", "s"), (2, "x y z w", "s")],
            "doc_id long, text string, source string",
        )
        rows = jaccard_threshold_curve(
            docs, "doc_id", "text", k=3, thresholds_pct=(50, 90)
        ).collect()
        assert [(r.threshold_pct, r.dup_pairs, r.docs_dropped) for r in rows] == [
            (50, 0, 0),
            (90, 0, 0),
        ]

    def test_grid_validated(self, spark):
        import pytest as _pytest

        from shaper_spark.operators.dedup import jaccard_threshold_curve

        df = spark.createDataFrame(
            [(1, "x", "s")], "doc_id long, text string, source string"
        )
        with _pytest.raises(ValueError):
            jaccard_threshold_curve(df, "doc_id", "text", thresholds_pct=())
        with _pytest.raises(ValueError):
            jaccard_threshold_curve(
                df, "doc_id", "text", thresholds_pct=(0,)
            )


class TestSplitLeakageReport:
    def test_planted_cross_split_duplicate(self, spark):
        from shaper_spark.operators.dedup import split_leakage_report
        from shaper_spark.operators.sampling import hash_split

        # near-identical pair (1, 2); find a fractions seed state where
        # they land in different splits by checking the actual split
        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h"),
                (2, "a b c d e f g h"),
                (3, "p q r s t u v w"),
            ],
            "doc_id long, text string",
        )
        fr = {"train": 0.5, "test": 0.5}
        splits = {
            r.doc_id: r.split
            for r in hash_split(docs, "doc_id", fr).collect()
        }
        out = {
            (r.split_a, r.split_b): (r.n_pairs, r.leak_docs)
            for r in split_leakage_report(
                docs, "doc_id", "text", fr, k=3, threshold=0.9
            ).collect()
        }
        key = tuple(sorted((splits[1], splits[2])))
        assert out == {key: (1, 1)}

    def test_no_duplicates_no_rows(self, spark):
        from shaper_spark.operators.dedup import split_leakage_report

        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "x y z w")],
            "doc_id long, text string",
        )
        assert (
            split_leakage_report(
                docs, "doc_id", "text", {"train": 0.8, "test": 0.2}
            ).count()
            == 0
        )


class TestDedupQualityShift:
    def test_drop_low_quality_duplicate_raises_mean(self, spark):
        from shaper_spark.operators.dedup import dedup_quality_shift
        from shaper_spark.operators.text import quality_score

        # docs 1 and 2 are identical low-quality noise (dup pair —
        # 2 dropped); doc 3 is distinct and higher quality
        docs = spark.createDataFrame(
            [
                (1, "zz yy xx ww vv uu", "s"),
                (2, "zz yy xx ww vv uu", "s"),
                (3, "the cat sat on the mat and the dog ran off", "s"),
            ],
            "doc_id long, text string, source string",
        )
        (r,) = dedup_quality_shift(
            docs, "doc_id", "text", "source", k=3, threshold=0.9
        ).collect()
        assert (r.n_before, r.n_after) == (3, 2)
        q = {
            row.doc_id: row.quality_micro
            for row in quality_score(
                docs, "doc_id", "text", micro_units=True
            ).collect()
        }
        before = (2 * (q[1] + q[2] + q[3]) + 3) // 6
        after = (2 * (q[1] + q[3]) + 2) // 4
        assert r.mean_q_before_micro == before
        assert r.mean_q_after_micro == after
        assert r.shift_micro == after - before
        assert r.shift_micro > 0  # the dropped dup was low quality

    def test_all_docs_dropped_group_nulls(self, spark):
        from shaper_spark.operators.dedup import dedup_quality_shift

        # every doc in the group is the larger id of some pair except
        # the canonical 1 — group keeps one doc, never zero, so force
        # the zero case with a filtered frame instead: drop set from
        # pairs over BOTH docs, corpus frame restricted to the loser
        docs = spark.createDataFrame(
            [(1, "a b c d e", "s"), (2, "a b c d e", "s")],
            "doc_id long, text string, source string",
        )
        (r,) = dedup_quality_shift(
            docs, "doc_id", "text", "source", k=3, threshold=0.5
        ).collect()
        assert (r.n_before, r.n_after) == (2, 1)
        assert r.mean_q_after_micro is not None


class TestCharclassComposition:
    def test_hand_computed_shares(self, spark):
        from shaper_spark.operators.text import charclass_composition

        docs = spark.createDataFrame(
            # "Ab1 !": 2 letters, 1 digit, 1 space, 1 punct
            # "a\x01X": 1 letter, 1 control, 1 non-ASCII residue
            [(1, "Ab1 !", "s"), (2, "a\x01é", "s")],
            "doc_id long, text string, source string",
        )
        (r,) = charclass_composition(docs, "text", "source").collect()
        assert (r.n_docs, r.n_chars) == (2, 8)
        assert r.letters_micro == 375000  # 3/8
        assert r.digits_micro == 125000
        assert r.ws_micro == 125000
        assert r.punct_micro == 125000
        assert r.ctrl_micro == 125000
        assert r.other_micro == 125000

    def test_tab_and_vtab_count_as_whitespace_not_control(self, spark):
        from shaper_spark.operators.text import charclass_composition

        docs = spark.createDataFrame(
            [(1, "a\tb\x0bc", "s")],
            "doc_id long, text string, source string",
        )
        (r,) = charclass_composition(docs, "text", "source").collect()
        # \t and \x0B are whitespace (Java-\s parity), NOT control
        assert r.ws_micro == 400000  # 2/5
        assert r.ctrl_micro == 0
        assert r.other_micro == 0

    def test_empty_text_is_all_zero_shares(self, spark):
        from shaper_spark.operators.text import charclass_composition

        docs = spark.createDataFrame(
            [(1, "", "s")], "doc_id long, text string, source string"
        )
        (r,) = charclass_composition(docs, "text", "source").collect()
        assert r.n_chars == 0
        assert r.letters_micro == 0 and r.other_micro == 0


class TestUnicodeAnomalyReport:
    def test_hand_computed_hits(self, spark):
        from shaper_spark.operators.text import unicode_anomaly_report

        docs = spark.createDataFrame(
            [
                (1, "a\xa0b", "s"),  # NBSP
                (2, "x\u200by\ufffd", "s"),  # ZWSP + replacement char
                (3, "plain", "s"),
            ],
            "doc_id long, text string, source string",
        )
        rows = unicode_anomaly_report(docs, "text", "source").collect()
        by = {r.anomaly: r for r in rows}
        assert sorted(by) == [
            "bidi_marks", "control", "nbsp", "replacement_char",
            "zero_width",
        ]
        assert (by["nbsp"].n_hits, by["nbsp"].n_docs_affected) == (1, 1)
        assert by["replacement_char"].n_hits == 1
        assert by["zero_width"].n_hits == 1
        assert by["control"].n_hits == 0
        assert by["bidi_marks"].n_docs_affected == 0
        # 1 hit in 12 chars -> half-up micro 83333
        assert by["nbsp"].hits_per_char_micro == 83333

    def test_multiple_hits_in_one_doc(self, spark):
        from shaper_spark.operators.text import unicode_anomaly_report

        docs = spark.createDataFrame(
            [(1, "\u202a\u202b\u202c", "s")],
            "doc_id long, text string, source string",
        )
        rows = unicode_anomaly_report(docs, "text", "source").collect()
        by = {r.anomaly: r for r in rows}
        assert (by["bidi_marks"].n_hits, by["bidi_marks"].n_docs_affected) == (
            3, 1,
        )
        assert by["bidi_marks"].hits_per_char_micro == 1000000


class TestBoilerplateAffixes:
    def test_shared_prefix_detected(self, spark):
        from shaper_spark.operators.text import boilerplate_affixes

        docs = spark.createDataFrame(
            [(1, "HEADER one", "s"), (2, "HEADER two", "s"),
             (3, "unique", "s")],
            "doc_id long, text string, source string",
        )
        rows = boilerplate_affixes(docs, "text", affix_len=6).collect()
        assert [(r.kind, r.affix, r.n_docs, r.rnk) for r in rows] == [
            ("prefix", "HEADER", 2, 1)
        ]

    def test_shared_suffix_detected(self, spark):
        from shaper_spark.operators.text import boilerplate_affixes

        docs = spark.createDataFrame(
            [(1, "x COPYRIGHT", "s"), (2, "yy COPYRIGHT", "s")],
            "doc_id long, text string, source string",
        )
        rows = boilerplate_affixes(docs, "text", affix_len=9).collect()
        assert [(r.kind, r.affix, r.n_docs) for r in rows] == [
            ("suffix", "COPYRIGHT", 2)
        ]

    def test_short_text_affix_is_whole_text(self, spark):
        from shaper_spark.operators.text import boilerplate_affixes

        docs = spark.createDataFrame(
            [(1, "tiny", "s"), (2, "tiny", "s")],
            "doc_id long, text string, source string",
        )
        rows = boilerplate_affixes(docs, "text", affix_len=24).collect()
        got = {(r.kind, r.affix, r.n_docs) for r in rows}
        assert got == {("prefix", "tiny", 2), ("suffix", "tiny", 2)}

    def test_tie_break_is_deterministic(self, spark):
        from shaper_spark.operators.text import boilerplate_affixes

        docs = spark.createDataFrame(
            [(1, "bbb x"), (2, "bbb y"), (3, "aaa x"), (4, "aaa y")],
            "doc_id long, text string",
        )
        rows = boilerplate_affixes(docs, "text", affix_len=3).collect()
        pref = [(r.affix, r.rnk) for r in rows if r.kind == "prefix"]
        assert pref == [("aaa", 1), ("bbb", 2)]


class TestHeapsLawFit:
    def test_perfect_linear_growth_fits_beta_one(self, spark):
        from shaper_spark.operators.text import heaps_law_fit

        # bucket b contributes 2^b brand-new words: cum_vocab ==
        # cum_tokens at every point, so ln V = ln N exactly -> beta 1
        rows = [
            (b, " ".join(f"w{b}_{i}" for i in range(2 ** b)))
            for b in range(4)
        ]
        df = spark.createDataFrame(rows, "bucket int, text string")
        out = heaps_law_fit(df, "text", "bucket").collect()
        assert [r.bucket_tokens for r in out] == [1, 2, 4, 8]
        assert [r.cum_vocab for r in out] == [1, 3, 7, 15]
        assert [r.cum_tokens for r in out] == [1, 3, 7, 15]
        assert out[0].beta == 1.0
        assert out[0].r2 == 1.0

    def test_saturated_vocab_fit_is_null(self, spark):
        from shaper_spark.operators.text import heaps_law_fit

        # same single word everywhere: ln V has zero variance, the
        # 0/0 r2 is engine-defined -> the guard emits NULL
        df = spark.createDataFrame(
            [(b, "w w w") for b in range(4)], "bucket int, text string"
        )
        out = heaps_law_fit(df, "text", "bucket").collect()
        assert [r.cum_vocab for r in out] == [1, 1, 1, 1]
        assert out[0].beta is None and out[0].r2 is None

    def test_sublinear_growth_beta_below_one(self, spark):
        from shaper_spark.operators.text import heaps_law_fit

        # repeated words dilute growth: beta must land strictly
        # inside (0, 1)
        rows = [
            (b, " ".join([f"new{b}_{i}" for i in range(b + 1)]
                         + ["the"] * (3 * b + 1)))
            for b in range(5)
        ]
        df = spark.createDataFrame(rows, "bucket int, text string")
        out = heaps_law_fit(df, "text", "bucket").collect()
        assert 0.0 < out[0].beta < 1.0
        assert out[0].r2 is not None


class TestSourceEntropyReport:
    def test_hand_computed_entropy(self, spark):
        import math

        from shaper_spark.operators.text import source_entropy_report

        df = spark.createDataFrame(
            [(1, "a a b b", "s"), (2, "c c c", "t")],
            "doc_id long, text string, source string",
        )
        rows = source_entropy_report(df, "text", "source").collect()
        by = {r.source: r for r in rows}
        s = by["s"]
        assert (s.n_tokens, s.n_distinct) == (4, 2)
        assert abs(s.entropy_nats - math.log(2)) < 1e-6
        assert s.norm_entropy == 1.0
        t = by["t"]
        assert (t.n_tokens, t.n_distinct) == (3, 1)
        assert t.entropy_nats == 0.0
        assert t.norm_entropy is None  # single-symbol: ln V == 0

    def test_uniform_beats_skewed(self, spark):
        from shaper_spark.operators.text import source_entropy_report

        df = spark.createDataFrame(
            [(1, "a b c d", "uni"), (2, "a a a d", "skew")],
            "doc_id long, text string, source string",
        )
        rows = source_entropy_report(df, "text", "source").collect()
        by = {r.source: r.entropy_nats for r in rows}
        assert by["uni"] > by["skew"]


class TestMixTemperatureSweep:
    def test_hand_computed_grid(self, spark):
        from shaper_spark.operators.sampling import mix_temperature_sweep

        docs = spark.createDataFrame(
            [(i, "a" if i == 0 else "b") for i in range(5)],
            "doc_id long, source string",
        )
        rows = mix_temperature_sweep(
            docs, "source", alphas=(0.5, 1.0)
        ).collect()
        got = {(r.source, r.alpha): (r.n_docs, r.weight) for r in rows}
        assert got == {
            ("a", 0.5): (1, round(1 / 3, 6)),
            ("a", 1.0): (1, 0.2),
            ("b", 0.5): (4, round(2 / 3, 6)),
            ("b", 1.0): (4, 0.8),
        }

    def test_weights_sum_to_one_per_alpha(self, spark):
        from shaper_spark.operators.sampling import mix_temperature_sweep

        rows = mix_temperature_sweep(
            spark.table("documents"), "source"
        ).collect()
        from collections import defaultdict

        s = defaultdict(float)
        for r in rows:
            s[r.alpha] += r.weight
        for a, tot in s.items():
            assert abs(tot - 1.0) < 1e-4, (a, tot)

    def test_validates_alphas(self, spark):
        from shaper_spark.operators.sampling import mix_temperature_sweep

        with pytest.raises(ValueError):
            mix_temperature_sweep(spark.table("documents"), "source", alphas=())
        with pytest.raises(ValueError):
            mix_temperature_sweep(
                spark.table("documents"), "source", alphas=(0.5, -1.0)
            )


class TestLangidConfusion:
    def test_confusion_cells(self, spark):
        from shaper_spark.operators.text import langid_confusion

        docs = spark.createDataFrame(
            [
                (1, "the cat and the dog of it", "en"),   # en predicted
                (2, "der hund und die katze das", "en"),  # de predicted, en label
                (3, "der und die das ist nicht", "de"),   # de predicted
                (4, "zzz qqq xxx", "de"),                 # no votes -> und
            ],
            "doc_id long, text string, lang string",
        )
        rows = langid_confusion(docs, "doc_id", "text", "lang").collect()
        got = {(r.label, r.lang_pred): (r.n_docs, r.share_micro) for r in rows}
        assert got == {
            ("en", "en"): (1, 500000),
            ("en", "de"): (1, 500000),
            ("de", "de"): (1, 500000),
            ("de", "und"): (1, 500000),
        }

    def test_language_id_extra_cols_pass_through(self, spark):
        # extra_cols carries the ground-truth label through the
        # classifier projection (the join-free confusion/accuracy
        # shape); predictions and scores must be identical to the
        # default call's
        from shaper_spark.operators.text import language_id

        docs = spark.createDataFrame(
            [
                (1, "the cat and the dog", "en"),
                (2, "zzz qqq", "xx"),
            ],
            "doc_id long, text string, lang string",
        )
        plain = {
            r["doc_id"]: r.asDict()
            for r in language_id(docs, "doc_id", "text").collect()
        }
        extra = {
            r["doc_id"]: r.asDict()
            for r in language_id(
                docs, "doc_id", "text", extra_cols=("lang",)
            ).collect()
        }
        assert extra[1].pop("lang") == "en"
        assert extra[2].pop("lang") == "xx"
        assert extra == plain
        assert plain[1]["lang_pred"] == "en"
        assert plain[2]["lang_pred"] == "und"

    def test_language_id_extra_col_collision_raises(self, spark):
        from shaper_spark.operators.text import language_id

        docs = spark.createDataFrame(
            [(1, "the cat", "en")],
            "doc_id long, text string, lang_pred string",
        )
        with pytest.raises(ValueError, match="'lang_pred'"):
            language_id(docs, "doc_id", "text", extra_cols=("lang_pred",))

    def test_label_column_named_like_an_output(self, spark):
        # the label rides through under a private alias, so a label
        # column called lang_pred gives the same matrix as one called lang
        from shaper_spark.operators.text import langid_confusion

        rows = [
            (1, "the cat and the dog of it", "en"),
            (2, "der hund und die katze das", "en"),
            (3, "zzz qqq xxx", "de"),
        ]
        by_lang = langid_confusion(
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string"
            ),
            "doc_id", "text", "lang",
        ).collect()
        by_pred = langid_confusion(
            spark.createDataFrame(
                rows, "doc_id long, text string, lang_pred string"
            ),
            "doc_id", "text", "lang_pred",
        ).collect()
        assert by_pred == by_lang
        assert {(r.label, r.lang_pred) for r in by_pred} == {
            ("en", "en"), ("en", "de"), ("de", "und"),
        }

    def test_shares_sum_to_one_per_label(self, spark):
        from shaper_spark.operators.text import langid_confusion

        rows = langid_confusion(
            spark.table("documents"), "doc_id", "text", "lang"
        ).collect()
        from collections import defaultdict

        s = defaultdict(int)
        for r in rows:
            s[r.label] += r.share_micro
        for label, tot in s.items():
            assert abs(tot - 1_000_000) <= len(rows), (label, tot)


class TestMarkupResidueReport:
    def test_hand_computed_counts(self, spark):
        from shaper_spark.operators.text import markup_residue_report

        docs = spark.createDataFrame(
            [
                (1, "clean text here", "s"),
                (2, "bad &nbsp;&nbsp; entity <p> tag", "s"),
                (3, "tpl {{name}} residue", "s"),
            ],
            "doc_id long, text string, source string",
        )
        rows = markup_residue_report(docs, "text", "source").collect()
        by = {r.marker: (r.n_hits, r.n_docs_affected) for r in rows}
        assert by["&nbsp;"] == (2, 1)
        assert by["<p>"] == (1, 1)
        assert by["{{"] == (1, 1)
        assert by["}}"] == (1, 1)
        assert by["<div"] == (0, 0)
        # one row per marker per group
        from shaper_spark.operators.text import MARKUP_MARKERS

        assert len(rows) == len(MARKUP_MARKERS)

    def test_overlapping_prefix_markers_count_independently(self, spark):
        from shaper_spark.operators.text import markup_residue_report

        # "&lt;" contains no "&gt;", "&#" is its own marker: each
        # marker counts its own occurrences on the ORIGINAL text
        docs = spark.createDataFrame(
            [(1, "&lt;&gt;&#39;", "s")],
            "doc_id long, text string, source string",
        )
        rows = markup_residue_report(docs, "text", "source").collect()
        by = {r.marker: r.n_hits for r in rows}
        assert by["&lt;"] == 1 and by["&gt;"] == 1 and by["&#"] == 1


class TestDedupPairExemplars:
    def test_top_and_bottom_samples(self, spark):
        from shaper_spark.operators.dedup import dedup_pair_exemplars

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h"),
                (2, "a b c d e f g h"),          # exact dup of 1
                (3, "a b c d x y z w"),          # partial overlap
                (4, "q r s t u v w2 x2"),        # no overlap
            ],
            "doc_id long, text string",
        )
        rows = dedup_pair_exemplars(docs, "doc_id", "text", n=2).collect()
        top = [(r.id_a, r.id_b, r.jaccard_micro) for r in rows
               if r.kind == "top"]
        # the exact-dup pair ranks first at jaccard 1.0
        assert top[0] == (1, 2, 1_000_000)
        bottom = [r for r in rows if r.kind == "bottom"]
        assert bottom and bottom[0].jaccard_micro <= top[0][2]
        # ranks are 1..n per kind
        assert [r.rank for r in rows if r.kind == "top"] == [1, 2]

    def test_union_is_inclusion_exclusion(self, spark):
        from shaper_spark.operators.dedup import dedup_pair_exemplars

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "c d e f g")],
            "doc_id long, text string",
        )
        (r0, r1) = sorted(
            dedup_pair_exemplars(docs, "doc_id", "text", n=1).collect(),
            key=lambda r: r.kind,
        )
        # 3-shingles: each doc has 3, sharing exactly 1 ("c d e")
        assert (r0.inter, r0.union_) == (1, 5)
        assert r0.jaccard_micro == 200000
