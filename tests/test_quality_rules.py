"""Round-4 additions: Gopher quality rules, readability, Heaps law,
clone-collapsed near-dup. Crafted degenerate inputs included per the
standing rule (empty text, NULL text, zero-word docs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.corpus import heaps_law
from big_data_project_datapipeline_spark.functions.dedup import (
    collapsed_near_duplicates,
    simhash_near_duplicates,
)
from big_data_project_datapipeline_spark.functions.text import (
    gopher_quality_flags,
    readability_scores,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs back to "
    "the barn because it wants to be fed with fresh corn that the farmer "
    "left out in the yard while he went off to town to buy more seed for "
    "the spring planting season which starts soon after the last frost "
    "melts away from the fields and the ground warms enough to work"
)  # 67 words, prose-like, stopword-rich


class TestGopherRules:
    def test_good_doc_keeps(self, spark):
        out = gopher_quality_flags(_docs(spark, [(1, GOOD)])).first()
        assert out["keep"] and out["n_words"] == 67

    def test_short_doc_fails_words_only(self, spark):
        out = gopher_quality_flags(
            _docs(spark, [(1, "the cat sat on the mat and that was that")])
        ).first()
        assert not out["words_ok"] and not out["keep"]
        assert out["stopword_ok"]  # the/and/that present

    def test_no_stopwords_fails(self, spark):
        text = " ".join(["lorem ipsum dolor sit amet"] * 13)  # 65 words
        out = gopher_quality_flags(_docs(spark, [(1, text)])).first()
        assert out["words_ok"] and not out["stopword_ok"] and not out["keep"]

    def test_symbol_heavy_fails_symbol_rule(self, spark):
        text = GOOD + " " + "# " * 10  # 10 hashes over 72 words > 10%
        out = gopher_quality_flags(_docs(spark, [(1, text)])).first()
        assert not out["symbol_ok"]

    def test_bullet_lines_fail(self, spark):
        # 10 lines, all bullets -> bullet fraction 1.0 > 0.9
        text = "\n".join(f"- item {i} of the list" for i in range(10))
        out = gopher_quality_flags(_docs(spark, [(1, text)])).first()
        assert not out["bullet_ok"]

    def test_numeric_words_fail_alpha_rule(self, spark):
        # 30 alpha words + 40 pure-number words -> alpha fraction 43%
        text = ("the cat sat " * 10) + ("12 34 56 78 " * 10)
        out = gopher_quality_flags(_docs(spark, [(1, text)])).first()
        assert out["words_ok"] and not out["alpha_ok"]

    def test_empty_text_defined_everywhere(self, spark):
        out = gopher_quality_flags(_docs(spark, [(1, "")])).first()
        assert out["n_words"] == 0
        assert not out["words_ok"] and not out["mean_len_ok"]
        assert not out["keep"]
        # ratio rules are cross-multiplications: defined at zero words
        assert out["symbol_ok"] and out["alpha_ok"]


class TestReadability:
    def test_hand_computed_flesch(self, spark):
        # "the cat sat. it ran fast." -> 2 sentences, 6 words,
        # syllables: the=1 cat=1 sat=1 it=1 ran=1 fast=1 -> 6
        # FRE = 206.835 - 1.015*3 - 84.6*1 = 119.19
        out = readability_scores(
            _docs(spark, [(1, "the cat sat. it ran fast.")])
        ).first()
        assert out["n_sentences"] == 2 and out["n_words"] == 6
        assert out["n_syllables"] == 6
        assert abs(out["flesch"] - 119.19) < 1e-6

    def test_vowel_groups_and_clamp(self, spark):
        # "queueing" -> ueuei = 2 groups (ueuei split by q? u-e-u-e-i-ng:
        # groups 'ueuei'? letters: q,u,e,u,e,i,n,g -> one run 'ueuei'
        # => 1; "rhythm" has no aeiouy vowels except y: 'y' => 1;
        # "xyzzy" -> y, y => 2
        out = readability_scores(
            _docs(spark, [(1, "queueing rhythm xyzzy")])
        ).first()
        assert out["n_syllables"] == 1 + 1 + 2
        assert out["n_sentences"] == 1  # clamped, no terminal punct

    def test_zero_word_docs_excluded(self, spark):
        out = readability_scores(_docs(spark, [(1, ""), (2, "   ")]))
        assert out.count() == 0


class TestHeapsLaw:
    def test_hand_computed_curve(self, spark):
        rows = [
            (1, "a b a"),        # tokens 3, new types a,b = 2
            (2, "b c"),          # tokens 2, new types c = 1
            (3, "a b c"),        # tokens 3, new types 0
            (4, "d"),            # tokens 1, new types d = 1
        ]
        out = {
            r["doc_id"]: (r["cum_tokens"], r["cum_types"])
            for r in heaps_law(_docs(spark, rows)).collect()
        }
        assert out == {1: (3, 2), 2: (5, 3), 3: (8, 3), 4: (9, 4)}

    def test_fit_recovers_powerlaw(self, spark):
        # each doc introduces exactly 2 new types over 4 tokens ->
        # V = N/2 exactly: beta ~ 1, K ~ 0.5
        rows = [
            (i, f"t{2*i} t{2*i+1} t{2*i} t{2*i+1}") for i in range(1, 41)
        ]
        r = heaps_law(_docs(spark, rows)).first()
        assert abs(r["heaps_beta"] - 1.0) < 1e-6
        assert abs(r["heaps_k"] - 0.5) < 1e-6

    def test_zero_token_docs_emit_no_checkpoint(self, spark):
        out = heaps_law(_docs(spark, [(1, "a b"), (2, ""), (3, "c")]))
        assert [r["doc_id"] for r in out.orderBy("doc_id").collect()] == [1, 3]


class TestCollapsedNearDup:
    def test_clone_groups_collapse_to_one_pair(self, spark):
        # two near-dup texts (1 of 60 tokens differs -> hamming 1),
        # each cloned 3x: naive pairwise -> 9 cross pairs + 2*3 exact
        # pairs; collapsed -> exactly ONE rep pair carrying clone counts
        base = [f"w{i}" for i in range(60)]
        a = " ".join(base)
        b = " ".join(base[:-1] + ["cat"])
        rows = [(i, a) for i in (1, 2, 3)] + [(i, b) for i in (10, 11, 12)]
        out = collapsed_near_duplicates(_docs(spark, rows)).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["id_a"], r["id_b"]) == (1, 10)
        assert (r["clones_a"], r["clones_b"]) == (3, 3)
        # same hamming the uncollapsed op reports for the rep pair
        raw = simhash_near_duplicates(_docs(spark, [(1, a), (10, b)])).first()
        assert r["hamming"] == raw["hamming"]

    def test_null_text_not_aliased_to_empty(self, spark):
        rows = [(1, None), (2, ""), (3, None)]
        groups = (
            collapsed_near_duplicates(_docs(spark, rows))
        )
        # no signatures (no tokens) -> no pairs; but the collapse must
        # not have merged NULL with '' (would still be 0 pairs, so
        # check the grouping directly)
        assert groups.count() == 0
        d = _docs(spark, rows)
        fp = F.coalesce(F.md5(F.col("text")), F.lit("__null_text__"))
        sizes = sorted(
            r["n"]
            for r in d.groupBy(fp.alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert sizes == [1, 2]


class TestContainmentDedup:
    def test_embedded_quote_detected(self, spark):
        from big_data_project_datapipeline_spark.functions.dedup import (
            containment_duplicates,
        )
        # B is a 10-token excerpt of the 40-token A: Jaccard ~0.2 but
        # containment 1.0 -> caught. C shares nothing -> no pair.
        a_toks = [f"u{i}" for i in range(40)]
        b_toks = a_toks[5:15]
        c_toks = [f"v{i}" for i in range(30)]
        d = _docs(
            spark,
            [(1, " ".join(a_toks)), (2, " ".join(b_toks)), (3, " ".join(c_toks))],
        )
        out = containment_duplicates(d).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["id_a"], r["id_b"]) == (1, 2)
        # 10 tokens -> 8 distinct 3-shingles, all present in A
        assert r["inter_size"] == 8 and r["size_b"] == 8
        assert r["containment"] == 1.0

    def test_hot_shingles_excluded_from_blocking(self, spark):
        from big_data_project_datapipeline_spark.functions.dedup import (
            containment_duplicates,
        )
        # the same text in 10 docs: every shingle has df 10 > max_df 5,
        # so blocking finds NO candidates (exact clones are the
        # exact-dedup stage's job, not containment's) — the bound that
        # keeps hot boilerplate from creating quadratic blocks.
        text = " ".join(f"w{i}" for i in range(20))
        d = _docs(spark, [(i, text) for i in range(10)])
        assert containment_duplicates(d).count() == 0

    def test_short_docs_no_shingles_no_crash(self, spark):
        from big_data_project_datapipeline_spark.functions.dedup import (
            containment_duplicates,
        )
        d = _docs(spark, [(1, "a b"), (2, "a b"), (3, None), (4, "")])
        assert containment_duplicates(d).count() == 0


class TestAllPairsJaccard:
    """Exactness is the contract: the prefix filter must lose NOTHING
    vs brute force at any threshold. The q173 oracle re-checks this on
    real data; these pin the device on crafted corpora."""

    def _brute(self, spark, d, num, den, k=5):
        from big_data_project_datapipeline_spark.functions.dedup import (
            jaccard_pairs,
        )
        from oracles import shingle_hash_set
        tsets = d.select(
            "doc_id", shingle_hash_set(F.col("text"), k).alias("s")
        ).filter(F.size("s") > 0)
        a = tsets.select(
            F.col("doc_id").alias("left_id"), F.col("s").alias("ls")
        )
        b = tsets.select(
            F.col("doc_id").alias("right_id"), F.col("s").alias("rs")
        )
        allp = (
            a.crossJoin(b)
            .filter(F.col("left_id") < F.col("right_id"))
            .select(
                "left_id",
                "right_id",
                F.size(F.array_intersect("ls", "rs")).alias("i"),
                F.size(F.array_union("ls", "rs")).alias("u"),
            )
            .filter(F.lit(den) * F.col("i") >= F.lit(num) * F.col("u"))
        )
        return {
            (r["left_id"], r["right_id"], r["i"], r["u"])
            for r in allp.collect()
        }

    def _run(self, spark, d, num, den, k=5):
        from big_data_project_datapipeline_spark.functions.dedup import (
            allpairs_jaccard,
        )
        out = allpairs_jaccard(
            d, threshold_num=num, threshold_den=den, k=k
        ).collect()
        return {
            (r["left_id"], r["right_id"], r["inter_size"], r["union_size"])
            for r in out
        }

    def test_matches_brute_force_random_corpus(self, spark):
        import random
        rng = random.Random(173)
        vocab = [f"w{i}" for i in range(30)]
        base = [rng.choice(vocab) for _ in range(40)]
        rows = []
        for i in range(24):
            doc = list(base)
            # mutate 0..14 positions: a smear of similarities around
            # every threshold we test
            for _ in range(rng.randrange(15)):
                doc[rng.randrange(len(doc))] = rng.choice(vocab)
            rows.append((i, " ".join(doc)))
        d = _docs(spark, rows)
        for num, den in ((1, 2), (3, 5), (4, 5), (9, 10)):
            assert self._run(spark, d, num, den) == self._brute(
                spark, d, num, den
            ), (num, den)

    def test_exact_threshold_boundary_pair_kept(self, spark):
        # two docs engineered to land EXACTLY at J = 1/2: shingle sets
        # sized 8 and 8 with intersection 16/3... instead use unigram
        # k=1 shingles: A = 8 tokens, B shares 6 of them plus 1 new
        # (union 9, inter 6 -> 2/3). Threshold 2/3 keeps it; 7/10 cuts.
        a = " ".join(f"t{i}" for i in range(8))
        b = " ".join([f"t{i}" for i in range(6)] + ["z1", "z2", "z3"])
        # inter 6, union 11 -> hmm recompute: B has 9 distinct, union
        # = 8 + 3 = 11, J = 6/11. Use threshold 6/11 exactly.
        d = _docs(spark, [(1, a), (2, b)])
        assert self._run(spark, d, 6, 11, k=1) == {(1, 2, 6, 11)}
        assert self._run(spark, d, 7, 11, k=1) == set()

    def test_identical_docs_and_hot_shingles(self, spark):
        # 6 identical docs: every shingle has df 6, prefixes still
        # carry them (AllPairs has no df cap — completeness), J = 1.0
        # for all 15 pairs.
        text = " ".join(f"c{i}" for i in range(12))
        d = _docs(spark, [(i, text) for i in range(6)])
        out = self._run(spark, d, 4, 5)
        assert len(out) == 15
        assert all(i == u for (_, _, i, u) in out)

    def test_degenerate_docs_excluded(self, spark):
        d = _docs(spark, [(1, "a b"), (2, None), (3, ""), (4, "x " * 6)])
        assert self._run(spark, d, 1, 2) == set()

    def test_length_filter_respects_threshold(self, spark):
        # A (20 tokens) strictly contains B (8 tokens): containment
        # 1.0 but J = 8/20 < 1/2 -> excluded; at 2/5 (= 8/20) kept.
        a = " ".join(f"s{i}" for i in range(20))
        b = " ".join(f"s{i}" for i in range(8))
        d = _docs(spark, [(1, a), (2, b)])
        assert self._run(spark, d, 1, 2, k=1) == set()
        assert self._run(spark, d, 2, 5, k=1) == {(1, 2, 8, 20)}


class TestPsiDrift:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )

    def test_identical_halves_near_zero(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            psi_drift,
        )
        ref_t = dt.datetime(2024, 1, 1)
        cur_t = dt.datetime(2024, 1, 20)
        rows = [("a", t, float(v)) for v in range(100) for t in (ref_t, cur_t)]
        out = psi_drift(
            self._ev(spark, rows),
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        ).first()
        assert out["n_ref"] == 100 and out["n_cur"] == 100
        assert out["psi"] < 0.01

    def test_shifted_distribution_flags(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            psi_drift,
        )
        ref_t = dt.datetime(2024, 1, 1)
        cur_t = dt.datetime(2024, 1, 20)
        rows = [("a", ref_t, float(v)) for v in range(100)] + [
            ("a", cur_t, float(v + 80)) for v in range(100)
        ]
        out = psi_drift(
            self._ev(spark, rows),
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        ).first()
        assert out["psi"] > 0.25

    def test_constant_reference_and_nan_handling(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            psi_drift,
        )
        ref_t = dt.datetime(2024, 1, 1)
        cur_t = dt.datetime(2024, 1, 20)
        rows = (
            [("a", ref_t, 5.0)] * 10
            + [("a", cur_t, 5.0)] * 5
            + [("a", cur_t, float("nan")), ("a", ref_t, None)]
        )
        out = psi_drift(
            self._ev(spark, rows),
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        ).first()
        # zero-width reference range: everything lands in bin 0,
        # NaN/NULL excluded from the counts, psi finite. With unequal
        # n (10 vs 5) the Laplace terms themselves contribute ~0.097
        # even for identical distributions — the meaningful invariant
        # is staying under the 0.1 "stable" threshold, not ~0.
        assert out["n_ref"] == 10 and out["n_cur"] == 5
        assert 0.0 <= out["psi"] < 0.1


class TestJsdDrift:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )

    def _split(self):
        return F.col("ts") < F.lit("2024-01-16").cast("timestamp")

    def test_identical_counts_exactly_zero(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            jsd_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        # Equal n per side: smoothed p_i == q_i in every bin, so every
        # term is ln(1) = 0 EXACTLY (not just small) — unlike PSI with
        # unequal n, there is no Laplace floor here.
        rows = [("a", t, float(v)) for v in range(50) for t in (ref_t, cur_t)]
        out = jsd_drift(self._ev(spark, rows), self._split()).first()
        assert out["n_ref"] == 50 and out["n_cur"] == 50
        assert out["jsd"] == 0.0

    def test_symmetric_in_ref_cur(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            jsd_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        # Asymmetric payload with equal counts per side (JSD's symmetry
        # is in the distributions p/q; the BINS are frozen on the
        # reference side, so symmetry only holds when both sides share
        # min/max — pin the range with sentinel rows).
        rows = (
            [("a", ref_t, 0.0), ("a", ref_t, 100.0)]
            + [("a", cur_t, 0.0), ("a", cur_t, 100.0)]
            + [("a", ref_t, float(v)) for v in range(10, 40)]
            + [("a", cur_t, float(v)) for v in range(60, 90)]
        )
        fwd = jsd_drift(self._ev(spark, rows), self._split()).first()
        rev = jsd_drift(self._ev(spark, rows), ~self._split()).first()
        assert fwd["jsd"] == rev["jsd"] > 0.0

    def test_disjoint_bounded_by_ln2(self, spark):
        import math
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            jsd_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        rows = (
            [("a", ref_t, 0.0), ("a", ref_t, 100.0)]
            + [("a", ref_t, 1.0)] * 200
            + [("a", cur_t, 99.0)] * 200
        )
        out = jsd_drift(self._ev(spark, rows), self._split()).first()
        assert 0.5 < out["jsd"] <= math.log(2.0)

    def test_matches_numpy_reference(self, spark):
        import datetime as dt
        import numpy as np
        from big_data_project_datapipeline_spark.functions.quality import (
            jsd_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        rng_ref = [0.0, 1.0, 2.0, 3.0, 9.0, 9.5, 4.4, 5.5, 6.1, 7.7]
        rng_cur = [0.5, 1.5, 8.8, 9.0, 9.2, 9.9, 12.0, -3.0, 5.0, 6.6]
        rows = [("a", ref_t, v) for v in rng_ref] + [
            ("a", cur_t, v) for v in rng_cur
        ]
        out = jsd_drift(self._ev(spark, rows), self._split()).first()
        # numpy mirror: 10 equal-width bins on the REF range, clamp,
        # 0.5-Laplace smoothing, nats.
        lo, hi = min(rng_ref), max(rng_ref)
        def hist(vals):
            b = np.clip(
                np.floor((np.array(vals) - lo) * 10 / (hi - lo)), 0, 9
            ).astype(int)
            return np.bincount(b, minlength=10)
        p = (hist(rng_ref) + 0.5) / (10 + 5.0)
        q = (hist(rng_cur) + 0.5) / (10 + 5.0)
        m = p + q
        expect = np.sum(
            np.round(
                0.5 * p * (np.log(2 * p) - np.log(m))
                + 0.5 * q * (np.log(2 * q) - np.log(m)),
                9,
            )
        )
        assert out["jsd"] == round(float(expect), 6)


class TestNgramNovelty:
    def test_first_doc_fully_novel_clone_zero(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            ngram_novelty,
        )
        text = " ".join(f"n{i}" for i in range(20))  # 13 distinct 8-grams
        other = " ".join(f"m{i}" for i in range(12))  # 5 distinct 8-grams
        d = _docs(spark, [(1, text), (2, text), (3, other)])
        out = {r["doc_id"]: r for r in ngram_novelty(d, k=8).collect()}
        assert out[1]["novelty_rate"] == 1.0 and out[1]["n_grams"] == 13
        assert out[2]["novelty_rate"] == 0.0  # clone of doc 1
        assert out[3]["novelty_rate"] == 1.0 and out[3]["n_grams"] == 5

    def test_short_docs_excluded(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            ngram_novelty,
        )
        d = _docs(spark, [(1, "a b c d e f g"), (2, "a b c d e f g h")])
        out = ngram_novelty(d, k=8).collect()
        assert [r["doc_id"] for r in out] == [2]


class TestKsDriftBinned:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )

    def _split(self):
        return F.col("ts") < F.lit("2024-01-16").cast("timestamp")

    def test_hand_computed_two_bins(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift_binned,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        # span [0, 10], 2 bins -> boundary at 5. ref: 3 low, 1 high;
        # cur: 1 low, 3 high. CDF gap at bin 0 = |3/4 - 1/4| = 0.5.
        rows = [
            ("a", ref_t, 0.0), ("a", ref_t, 1.0), ("a", ref_t, 2.0),
            ("a", ref_t, 10.0),
            ("a", cur_t, 3.0), ("a", cur_t, 6.0), ("a", cur_t, 7.0),
            ("a", cur_t, 8.0),
        ]
        out = ks_drift_binned(
            self._ev(spark, rows), self._split(), n_bins=2
        ).first()
        assert out["n_ref"] == 4 and out["n_cur"] == 4
        assert out["n_bins"] == 2 and out["ks_binned"] == 0.5

    def test_binned_never_exceeds_exact(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift,
            ks_drift_binned,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        # deterministic pseudo-random shifted samples, two groups
        rows = []
        for g in ("a", "b"):
            for i in range(200):
                rows.append((g, ref_t, float((i * 37) % 101)))
                rows.append((g, cur_t, float((i * 53) % 97) + 9.5))
        df = self._ev(spark, rows)
        exact = {
            r["event_type"]: r["ks"]
            for r in ks_drift(df, self._split()).collect()
        }
        for nb in (2, 8, 64):
            binned = {
                r["event_type"]: r["ks_binned"]
                for r in ks_drift_binned(
                    df, self._split(), n_bins=nb
                ).collect()
            }
            for g in exact:
                # round(6) on both surfaces -> allow one ulp of rounding
                assert binned[g] <= exact[g] + 1e-6, (g, nb)

    def test_constant_group_single_bucket(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift_binned,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        rows = [("a", ref_t, 7.0)] * 3 + [("a", cur_t, 7.0)] * 5
        out = ks_drift_binned(
            self._ev(spark, rows), self._split(), n_bins=8
        ).first()
        # zero span -> everything in bucket 0 -> identical binned CDFs
        assert out["ks_binned"] == 0.0 and not out["drifted"]

    def test_one_sided_group_null_ks(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift_binned,
        )
        ref_t = dt.datetime(2024, 1, 1)
        rows = [
            ("a", ref_t, 1.0),
            ("a", ref_t, float("nan")),
            ("a", ref_t, None),
        ]
        out = ks_drift_binned(
            self._ev(spark, rows), self._split(), n_bins=8
        ).first()
        assert out["n_ref"] == 1 and out["n_cur"] == 0
        assert out["ks_binned"] is None and out["drifted"] is False

    def test_max_value_lands_in_last_bin(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift_binned,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        # ref all at min, cur all at max: with any bin count the gap is 1
        rows = [("a", ref_t, 0.0)] * 4 + [("a", cur_t, 4.0)] * 4
        out = ks_drift_binned(
            self._ev(spark, rows), self._split(), n_bins=4
        ).first()
        assert out["ks_binned"] == 1.0 and out["drifted"]


class TestKsDrift:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )

    def test_identical_samples_ks_zero(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        rows = [("a", t, float(v)) for v in range(50) for t in (ref_t, cur_t)]
        out = ks_drift(
            self._ev(spark, rows),
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        ).first()
        assert out["ks"] == 0.0 and not out["drifted"]

    def test_disjoint_samples_ks_one(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        rows = [("a", ref_t, float(v)) for v in range(30)] + [
            ("a", cur_t, float(v + 1000)) for v in range(30)
        ]
        out = ks_drift(
            self._ev(spark, rows),
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        ).first()
        assert out["ks"] == 1.0 and out["drifted"]

    def test_one_sided_group_null_ks_false_drift(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            ks_drift,
        )
        ref_t = dt.datetime(2024, 1, 1)
        rows = [("a", ref_t, 1.0), ("a", ref_t, float("nan")), ("a", ref_t, None)]
        out = ks_drift(
            self._ev(spark, rows),
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        ).first()
        assert out["n_ref"] == 1 and out["n_cur"] == 0
        assert out["ks"] is None and out["drifted"] is False


class TestBenfordAudit:
    def test_digit_extraction_and_grid(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            benford_audit,
        )
        # 12.34 -> cents 1234 -> digit 1; 0.05 -> 5 -> digit 5;
        # 987.0 -> 98700 -> digit 9; zero/negative excluded
        df = spark.createDataFrame(
            [("g", 12.34), ("g", 0.05), ("g", 987.0), ("g", 0.0), ("g", -5.0)],
            "grp string, v double",
        )
        out = {r["digit"]: r for r in benford_audit(df, "v", "grp").collect()}
        assert len(out) == 9  # complete 1..9 grid, zeros included
        assert out[1]["n_obs"] == 1 and out[5]["n_obs"] == 1 and out[9]["n_obs"] == 1
        assert out[2]["n_obs"] == 0
        assert abs(out[1]["exp_share"] - 0.30103) < 1e-5
        assert out[1]["chi2"] == out[9]["chi2"] > 0

    def test_benford_like_data_small_chi2(self, spark):
        import math
        from big_data_project_datapipeline_spark.functions.quality import (
            benford_audit,
        )
        # counts proportional to Benford probabilities -> tiny chi2
        rows = []
        for d in range(1, 10):
            n = round(1000 * math.log10(1 + 1 / d))
            rows += [("g", float(d))] * n
        df = spark.createDataFrame(rows, "grp string, v double")
        out = benford_audit(df, "v", "grp").first()
        assert out["chi2"] < 1.0


class TestMeanShiftScan:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, event_id long, value double"
        )

    def test_clean_step_found(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            mean_shift_scan,
        )
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("a", t0 + dt.timedelta(minutes=i), i, 1.0 if i < 20 else 9.0)
            for i in range(40)
        ]
        out = mean_shift_scan(self._ev(spark, rows)).first()
        assert out["split_k"] == 20
        assert out["mean_left"] == 1.0 and out["mean_right"] == 9.0
        assert out["shift"] == 8.0

    def test_single_row_group_absent_nan_excluded(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            mean_shift_scan,
        )
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("solo", t0, 1, 5.0),
            ("ok", t0, 2, 1.0),
            ("ok", t0 + dt.timedelta(minutes=1), 3, 3.0),
            ("ok", t0 + dt.timedelta(minutes=2), 4, float("nan")),
        ]
        out = {r["event_type"]: r for r in mean_shift_scan(self._ev(spark, rows)).collect()}
        assert "solo" not in out  # no interior split
        assert out["ok"]["n"] == 2 and out["ok"]["split_k"] == 1


class TestDomainCap:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        )

    def test_cap_and_share(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            domain_cap_report,
        )
        rows = [(i, "big", 10 * (i + 1)) for i in range(5)] + [
            (100, "small", 7)
        ]
        out = {
            r["source"]: r
            for r in domain_cap_report(self._docs(spark, rows), cap=3).collect()
        }
        # big: keeps the 3 longest (50+40+30=120 of 150)
        assert out["big"]["n_kept"] == 3 and out["big"]["n_dropped"] == 2
        assert out["big"]["kept_char_share"] == 0.8
        assert out["small"]["n_kept"] == 1 and out["small"]["kept_char_share"] == 1.0

    def test_null_lengths_occupy_slots(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            domain_cap_report,
        )
        rows = [(1, "s", None), (2, "s", None), (3, "s", 10)]
        out = domain_cap_report(self._docs(spark, rows), cap=2).first()
        assert out["n_docs"] == 3 and out["n_kept"] == 2
        # longest first: the real doc is kept, one NULL-length doc too
        assert out["kept_char_share"] == 1.0


class TestMutualInformation:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "x string, y string")

    def test_independent_mi_zero(self, spark):
        import itertools
        from big_data_project_datapipeline_spark.functions.quality import (
            mutual_information,
        )
        # uniform product distribution -> MI exactly 0
        rows = list(itertools.product(["a", "b"], ["u", "v", "w"])) * 4
        out = mutual_information(self._df(spark, rows), "x", "y").first()
        assert out["mi"] == 0.0

    def test_perfect_dependence_mi_ln_k(self, spark):
        import math
        from big_data_project_datapipeline_spark.functions.quality import (
            mutual_information,
        )
        # y determined by x over 4 equiprobable levels -> MI = ln(4)
        rows = [(c, c.upper()) for c in "abcd" for _ in range(10)]
        out = mutual_information(self._df(spark, rows), "x", "y").collect()
        assert len(out) == 4
        assert abs(out[0]["mi"] - math.log(4)) < 1e-6
        assert all(abs(r["pmi"] - math.log(4)) < 1e-5 for r in out)

    def test_null_category_is_a_level_not_lost(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            mutual_information,
        )
        rows = [(None, "u"), (None, "u"), ("a", "v"), ("a", "v")]
        out = mutual_information(self._df(spark, rows), "x", "y").collect()
        # NULL x is its own level: 2 cells, each perfectly predictive
        assert len(out) == 2
        assert all(r["n_xy"] == 2 for r in out)
        import math
        assert all(abs(r["mi"] - math.log(2)) < 1e-6 for r in out)


class TestTrimmedWinsor:
    def _df(self, spark, vals, grp="g"):
        return spark.createDataFrame(
            [(grp, float(v)) for v in vals], "grp string, v double"
        )

    def test_hand_computed(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            trimmed_winsor_summary,
        )
        # 10 values 1..9 + outlier 1000; trim 10% -> k=1: drop 1 and
        # 1000; kept 2..9 -> trimmed mean 5.5; winsorized: clamp 1->2,
        # 1000->9 -> (44 + 2 + 9)/10 = 5.5
        out = trimmed_winsor_summary(
            self._df(spark, [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]),
            value_col="v",
            group_cols=["grp"],
        ).first()
        assert out["n"] == 10 and out["k_trim"] == 1
        assert out["lo"] == 2.0 and out["hi"] == 9.0
        assert out["trimmed_mean"] == 5.5
        assert out["winsor_mean"] == 5.5

    def test_small_group_no_trim(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            trimmed_winsor_summary,
        )
        # n=5, k=0: both means are the plain mean
        out = trimmed_winsor_summary(
            self._df(spark, [1, 2, 3, 4, 5]),
            value_col="v",
            group_cols=["grp"],
        ).first()
        assert out["k_trim"] == 0
        assert out["trimmed_mean"] == out["winsor_mean"] == 3.0

    def test_nan_null_excluded(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            trimmed_winsor_summary,
        )
        df = spark.createDataFrame(
            [("g", 1.0), ("g", 2.0), ("g", float("nan")), ("g", None)],
            "grp string, v double",
        )
        out = trimmed_winsor_summary(
            df, value_col="v", group_cols=["grp"]
        ).first()
        assert out["n"] == 2 and out["trimmed_mean"] == 1.5


class TestGroupedAuc:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "g string, s double, y int")

    def test_perfect_separation(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_auc,
        )
        rows = [("a", float(v), 0) for v in range(5)] + [
            ("a", float(v + 10), 1) for v in range(5)
        ]
        out = grouped_auc(
            self._df(spark, rows), "s", F.col("y") == 1, ["g"]
        ).first()
        assert out["auc"] == 1.0 and out["n_pos"] == 5 and out["n_neg"] == 5

    def test_all_tied_is_half(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_auc,
        )
        rows = [("a", 1.0, 1)] * 3 + [("a", 1.0, 0)] * 7
        out = grouped_auc(
            self._df(spark, rows), "s", F.col("y") == 1, ["g"]
        ).first()
        assert out["auc"] == 0.5

    def test_hand_computed_with_ties(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_auc,
        )
        # scores: neg at 1, pos at 2, one of each at 3
        # pairs: (pos2,neg1)=1, (pos2,neg3)=0, (pos3,neg1)=1,
        # (pos3,neg3)=0.5 -> AUC = 2.5/4
        rows = [("a", 1.0, 0), ("a", 2.0, 1), ("a", 3.0, 1), ("a", 3.0, 0)]
        out = grouped_auc(
            self._df(spark, rows), "s", F.col("y") == 1, ["g"]
        ).first()
        assert out["auc"] == 0.625

    def test_single_class_group_null(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_auc,
        )
        rows = [("a", 1.0, 1), ("a", 2.0, 1)]
        out = grouped_auc(
            self._df(spark, rows), "s", F.col("y") == 1, ["g"]
        ).first()
        assert out["n_neg"] == 0 and out["auc"] is None


class TestAveragePrecision:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "g string, s double, y int")

    def _ap(self, spark, rows):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_average_precision,
        )
        return grouped_average_precision(
            self._df(spark, rows), "s", F.col("y") == 1, ["g"]
        ).first()

    def test_perfect_ranker_is_one(self, spark):
        rows = [("a", float(v), 0) for v in range(5)] + [
            ("a", float(v + 10), 1) for v in range(5)
        ]
        out = self._ap(spark, rows)
        assert out["ap"] == 1.0 and out["prevalence"] == 0.5

    def test_all_tied_equals_prevalence(self, spark):
        # one tie block: AP collapses to P/(P+N) — the random floor
        rows = [("a", 1.0, 1)] * 3 + [("a", 1.0, 0)] * 7
        out = self._ap(spark, rows)
        assert out["ap"] == 0.3 and out["prevalence"] == 0.3

    def test_hand_computed_with_ties(self, spark):
        # desc blocks: s=3 (1 pos, 1 neg) -> cumP 1, cumT 2;
        # s=2 (1 pos) -> cumP 2, cumT 3; s=1 (1 neg) -> no pos.
        # AP = (1*(1/2) + 1*(2/3)) / 2 = 7/12
        rows = [("a", 1.0, 0), ("a", 2.0, 1), ("a", 3.0, 1), ("a", 3.0, 0)]
        out = self._ap(spark, rows)
        assert out["ap"] == round(7.0 / 12.0, 6)

    def test_matches_sklearn_formula_random(self, spark):
        import random
        rng = random.Random(174)
        rows = [
            ("a", float(rng.randrange(8)), int(rng.random() < 0.3))
            for _ in range(200)
        ]
        out = self._ap(spark, rows)
        # threshold-sweep mirror in plain python
        from collections import defaultdict
        blocks = defaultdict(lambda: [0, 0])
        for _, s, y in rows:
            blocks[s][y] += 1
        cump = cumt = 0
        npos = sum(v[1] for v in blocks.values())
        ap = 0.0
        for s in sorted(blocks, reverse=True):
            neg, pos = blocks[s]
            cump += pos
            cumt += pos + neg
            ap += round(pos * cump / cumt, 9)
        assert out["ap"] == round(ap / npos, 6)

    def test_no_positives_null(self, spark):
        rows = [("a", 1.0, 0), ("a", 2.0, 0)]
        out = self._ap(spark, rows)
        assert out["n_pos"] == 0 and out["ap"] is None

    def test_worst_ranker_hand_value(self, spark):
        # all negs above all (tied) pos: the single pos block sees
        # cumP=5, cumT=10 -> AP = 5*(5/10)/5 = 0.5
        rows = [("a", float(v + 10), 0) for v in range(5)] + [
            ("a", 0.0, 1) for _ in range(5)
        ]
        out = self._ap(spark, rows)
        assert out["ap"] == 0.5


class TestGroupedOls2:
    def test_recovers_exact_plane(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_ols2,
        )
        # y = 2 + 3*x1 - 4*x2 exactly, x1/x2 not collinear
        rows = [
            ("g", float(x1), float(x2), 2.0 + 3.0 * x1 - 4.0 * x2)
            for x1 in range(6)
            for x2 in range(4)
        ]
        df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
        out = grouped_ols2(df, "y", "x1", "x2", ["g"]).first()
        assert abs(out["b0"] - 2.0) < 1e-6
        assert abs(out["b1"] - 3.0) < 1e-6
        assert abs(out["b2"] + 4.0) < 1e-6
        assert abs(out["r2"] - 1.0) < 1e-6

    def test_collinear_features_null(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_ols2,
        )
        rows = [("g", float(v), 2.0 * v, float(v)) for v in range(10)]
        df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
        out = grouped_ols2(df, "y", "x1", "x2", ["g"]).first()
        assert out["b1"] is None and out["b2"] is None

    def test_nan_rows_excluded(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_ols2,
        )
        rows = [("g", 1.0, 1.0, 1.0), ("g", 2.0, 1.5, 2.0),
                ("g", 3.0, 0.5, 3.0), ("g", float("nan"), 1.0, 9.0),
                ("g", 1.0, None, 9.0)]
        df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
        assert grouped_ols2(df, "y", "x1", "x2", ["g"]).first()["n"] == 3


class TestGroupedAcf:
    def _ev(self, spark, vals, grp="a"):
        import datetime as dt
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (grp, t0 + dt.timedelta(minutes=i), i, float(v))
            for i, v in enumerate(vals)
        ]
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, event_id long, value double"
        )

    def test_alternating_series_lag_signs(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_acf,
        )
        # perfect alternation: lag1 = -1, lag2 = +1
        out = {
            r["lag"]: r
            for r in grouped_acf(self._ev(spark, [1, -1] * 10)).collect()
        }
        assert out[1]["acf"] == -1.0 and out[1]["n_pairs"] == 19
        assert out[2]["acf"] == 1.0

    def test_short_group_emits_only_feasible_lags(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_acf,
        )
        # 3 points: lag1 has 2 pairs, lag2 has 1 (constant denom ->
        # NULL acf), lag3 none
        out = {
            r["lag"]: r for r in grouped_acf(self._ev(spark, [1, 2, 4])).collect()
        }
        assert set(out) == {1, 2}
        assert out[2]["n_pairs"] == 1 and out[2]["acf"] is None

    def test_constant_series_null_acf(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_acf,
        )
        out = grouped_acf(self._ev(spark, [5.0] * 10)).collect()
        assert all(r["acf"] is None for r in out)


class TestFkOrphanReport:
    def test_orphans_and_null_fks_separated(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            fk_orphan_report,
        )
        child = spark.createDataFrame(
            [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
        )
        parent = spark.createDataFrame([(10,), (20,)], "pk long")
        out = fk_orphan_report([("c.fk", child, "fk", parent, "pk")]).first()
        # fk=99 is the one orphan; the NULL fk is NOT an orphan
        assert out["n_child"] == 4 and out["n_null_fk"] == 1
        assert out["n_orphans"] == 1
        assert abs(out["orphan_rate"] - 1 / 3) < 1e-6

    def test_all_null_children_rate_null(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            fk_orphan_report,
        )
        child = spark.createDataFrame([(1, None), (2, None)], "id long, fk long")
        parent = spark.createDataFrame([(10,)], "pk long")
        out = fk_orphan_report([("c.fk", child, "fk", parent, "pk")]).first()
        assert out["n_orphans"] == 0 and out["orphan_rate"] is None

    def test_multiple_relations_union(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            fk_orphan_report,
        )
        child = spark.createDataFrame([(1, 10)], "id long, fk long")
        parent = spark.createDataFrame([(10,)], "pk long")
        out = fk_orphan_report(
            [("a", child, "fk", parent, "pk"), ("b", child, "fk", parent, "pk")]
        ).collect()
        assert sorted(r["relation"] for r in out) == ["a", "b"]


class TestReviewHardening:
    def test_benford_nan_inf_rows_excluded_not_fatal(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            benford_audit,
        )
        df = spark.createDataFrame(
            [("g", 12.34), ("g", float("nan")), ("g", float("inf")),
             ("g", float("-inf")), ("g", 1e18), ("g", None)],
            "grp string, v double",
        )
        out = {r["digit"]: r for r in benford_audit(df, "v", "grp").collect()}
        # only the one clean row survives; the job does not abort
        assert out[1]["n_obs"] == 1 and sum(r["n_obs"] for r in out.values()) == 1

    def test_auc_contrib_survives_large_counts(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            grouped_auc,
        )
        # decimal accumulation path sanity on a skewed-tie frame
        rows = [("a", 1.0, 0)] * 500 + [("a", 2.0, 1)] * 500
        df = spark.createDataFrame(rows, "g string, s double, y int")
        out = grouped_auc(df, "s", F.col("y") == 1, ["g"]).first()
        assert out["auc"] == 1.0

    def test_fk_report_empty_relations_raises(self, spark):
        import pytest
        from big_data_project_datapipeline_spark.functions.quality import (
            fk_orphan_report,
        )
        with pytest.raises(ValueError):
            fk_orphan_report([])


class TestEmdDrift:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )

    def test_pure_shift_emd_equals_offset(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            emd_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        # cur = ref + 5.0 pointwise -> W1 distance is exactly 5.0
        rows = [("a", ref_t, float(v)) for v in range(20)] + [
            ("a", cur_t, float(v) + 5.0) for v in range(20)
        ]
        out = emd_drift(
            self._ev(spark, rows),
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        ).first()
        assert out["emd"] == 5.0

    def test_identical_zero_and_one_sided_null(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            emd_drift,
        )
        ref_t, cur_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
        rows = [("same", t, float(v)) for v in range(10) for t in (ref_t, cur_t)]
        rows += [("onesided", ref_t, 1.0), ("onesided", ref_t, 2.0)]
        # two-sided but single distinct value: comparable, zero drift
        rows += [("const", t, 5.0) for t in (ref_t, cur_t) for _ in range(3)]
        out = {
            r["event_type"]: r
            for r in emd_drift(
                self._ev(spark, rows),
                F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
            ).collect()
        }
        assert out["same"]["emd"] == 0.0
        assert out["onesided"]["emd"] is None
        assert out["const"]["emd"] == 0.0  # review fix: not NULL


class TestBootstrapCi:
    def test_ci_brackets_mean_and_tightens(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            bootstrap_mean_ci,
        )
        rows = [("g", i, float(i % 10)) for i in range(500)]
        df = spark.createDataFrame(rows, "grp string, id long, v double")
        out = bootstrap_mean_ci(
            df, "v", ["grp"], "id", n_replicates=50
        ).first()
        assert out["n"] == 500 and out["n_replicates"] == 50
        assert out["ci_lo"] <= out["mean"] <= out["ci_hi"]
        # 0..9 uniform: mean 4.5, CI half-width should be well under 1
        assert out["ci_hi"] - out["ci_lo"] < 1.0

    def test_deterministic_across_partitionings(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            bootstrap_mean_ci,
        )
        rows = [("g", i, float(i)) for i in range(100)]
        df1 = spark.createDataFrame(rows, "grp string, id long, v double")
        df2 = df1.repartition(7)
        a = bootstrap_mean_ci(df1, "v", ["grp"], "id", 30).first()
        b = bootstrap_mean_ci(df2, "v", ["grp"], "id", 30).first()
        assert (a["ci_lo"], a["ci_hi"]) == (b["ci_lo"], b["ci_hi"])

    def test_constant_data_degenerate_ci(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            bootstrap_mean_ci,
        )
        rows = [("g", i, 7.0) for i in range(50)]
        df = spark.createDataFrame(rows, "grp string, id long, v double")
        out = bootstrap_mean_ci(df, "v", ["grp"], "id", 40).first()
        assert out["ci_lo"] == out["ci_hi"] == out["mean"] == 7.0


class TestKmSurvival:
    def _d(self, spark, rows):
        return spark.createDataFrame(rows, "dur long, evt int")

    def test_textbook_curve(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            km_survival,
        )
        # classic: events at t=1 (n=5), t=3 (n=3); censored at t=2, t=4
        rows = [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0)]
        out = {r["dur"]: r for r in km_survival(self._d(spark, rows)).collect()}
        assert set(out) == {1, 3}  # censor-only times emit no row
        assert out[1]["n_risk"] == 5 and abs(out[1]["survival"] - 0.8) < 1e-6
        # S(3) = 0.8 * (1 - 2/3) = 0.266667
        assert out[3]["n_risk"] == 3 and out[3]["n_events"] == 2
        assert abs(out[3]["survival"] - 0.266667) < 1e-6

    def test_everyone_dies_reaches_zero(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            km_survival,
        )
        rows = [(1, 1), (2, 1), (3, 1)]
        out = {r["dur"]: r["survival"] for r in km_survival(self._d(spark, rows)).collect()}
        assert out[3] == 0.0

    def test_all_censored_empty_curve(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            km_survival,
        )
        rows = [(5, 0), (9, 0)]
        assert km_survival(self._d(spark, rows)).count() == 0


class TestSnapshotDiff:
    def _t(self, spark, rows):
        return spark.createDataFrame(rows, "k long, a string, b long")

    def test_all_four_classes(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            snapshot_diff,
        )
        old = self._t(spark, [(1, "x", 10), (2, "y", 20), (3, "z", 30)])
        new = self._t(spark, [(1, "x", 10), (2, "y", 99), (4, "w", 40)])
        out = {
            r["change_type"]: r["n"]
            for r in snapshot_diff(old, new, ["k"], ["a", "b"]).collect()
        }
        assert out == {"unchanged": 1, "modified": 1, "removed": 1, "added": 1}

    def test_null_value_not_aliased_to_missing(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            snapshot_diff,
        )
        # (NULL, 'x') vs ('x', NULL): concat_ws would collide without
        # the per-column sentinel
        old = self._t(spark, [(1, None, None)])
        new1 = self._t(spark, [(1, None, None)])
        out_same = {
            r["change_type"]: r["n"]
            for r in snapshot_diff(old, new1, ["k"], ["a", "b"]).collect()
        }
        assert out_same == {"unchanged": 1}
        mixed_old = spark.createDataFrame([(1, None, "x")], "k long, a string, b string")
        mixed_new = spark.createDataFrame([(1, "x", None)], "k long, a string, b string")
        out_mix = {
            r["change_type"]: r["n"]
            for r in snapshot_diff(mixed_old, mixed_new, ["k"], ["a", "b"]).collect()
        }
        assert out_mix == {"modified": 1}

    def test_null_key_matches_null_key(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            snapshot_diff,
        )
        old = self._t(spark, [(None, "x", 1)])
        new = self._t(spark, [(None, "x", 1)])
        out = {
            r["change_type"]: r["n"]
            for r in snapshot_diff(old, new, ["k"], ["a", "b"]).collect()
        }
        # eqNullSafe join: NULL key rows pair up instead of exploding
        # into one added + one removed
        assert out == {"unchanged": 1}


class TestSeasonalMase:
    def _ev(self, spark, rows):
        return spark.createDataFrame(rows, "event_type string, ts timestamp")

    def test_perfect_seasonality_mase_zero(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            seasonal_mase,
        )
        # identical 24h pattern repeated 3 days: seasonal error 0
        t0 = dt.datetime(2024, 1, 1)
        rows = []
        for day in range(3):
            for h in range(24):
                n = 1 + (h % 4)  # varying within-day pattern
                rows += [("a", t0 + dt.timedelta(days=day, hours=h))] * n
        out = seasonal_mase(self._ev(spark, rows)).first()
        assert out["seasonal_mae"] == 0.0 and out["mase"] == 0.0
        assert out["naive_mae"] > 0

    def test_short_group_null_mase(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            seasonal_mase,
        )
        t0 = dt.datetime(2024, 1, 1)
        rows = [("b", t0 + dt.timedelta(hours=h)) for h in range(5)]
        out = seasonal_mase(self._ev(spark, rows)).first()
        # span < 24h: no seasonal lag pairs -> NULL mase
        assert out["mase"] is None and out["n_hours"] == 5

    def test_missing_hours_count_zero(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            seasonal_mase,
        )
        t0 = dt.datetime(2024, 1, 1)
        # events only at hour 0 and hour 2: grid fills hour 1 with 0
        rows = [("c", t0), ("c", t0 + dt.timedelta(hours=2))]
        out = seasonal_mase(self._ev(spark, rows)).first()
        assert out["n_hours"] == 3
        # naive errors: |0-1| + |1-0| = 2 over 2 pairs
        assert out["naive_mae"] == 1.0


class TestStratifiedAte:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "s string, y double, t int")

    def test_known_effect_recovered(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            stratified_ate,
        )
        # stratum A: control mean 10, treated 12 (+2); stratum B:
        # control 20, treated 23 (+3); sizes 20 vs 10 -> ATE = (20*2 +
        # 10*3)/30 = 2.333333
        rows = (
            [("A", 10.0, 0)] * 10 + [("A", 12.0, 1)] * 10
            + [("B", 20.0, 0)] * 5 + [("B", 23.0, 1)] * 5
        )
        out = stratified_ate(
            self._df(spark, rows), "y", F.col("t") == 1, ["s"]
        ).collect()
        per = {r["s"]: r for r in out}
        assert per["A"]["diff"] == 2.0 and per["B"]["diff"] == 3.0
        assert all(abs(r["ate"] - 2.333333) < 1e-6 for r in out)

    def test_one_armed_stratum_excluded_from_ate(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            stratified_ate,
        )
        rows = [("A", 1.0, 0), ("A", 3.0, 1), ("C", 99.0, 1), ("C", 99.0, 1)]
        out = {r["s"]: r for r in stratified_ate(
            self._df(spark, rows), "y", F.col("t") == 1, ["s"]
        ).collect()}
        # C has no control arm: NULL diff, and ATE = A's diff alone
        assert out["C"]["diff"] is None
        assert out["A"]["ate"] == out["C"]["ate"] == 2.0


class TestQuantileNormalize:
    def _ev(self, spark, rows):
        return spark.createDataFrame(rows, "event_type string, event_id long, value double")

    def test_groups_become_identical_marginals(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            quantile_normalize,
        )
        # two groups of equal size with shifted distributions
        rows = [("a", i, float(i)) for i in range(10)] + [
            ("b", 100 + i, float(i) + 1000.0) for i in range(10)
        ]
        out = quantile_normalize(self._ev(spark, rows)).collect()
        by_grp = {}
        for r in out:
            by_grp.setdefault(r["event_type"], []).append(r["normalized"])
        # after normalization both groups carry the same multiset of
        # pooled elements (every other pooled rank)
        assert sorted(by_grp["a"]) == sorted(by_grp["b"])

    def test_rank_order_preserved_within_group(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            quantile_normalize,
        )
        rows = [("a", i, float(100 - i)) for i in range(20)] + [
            ("b", 100 + i, float(i)) for i in range(5)
        ]
        out = [
            (r["value"], r["normalized"])
            for r in quantile_normalize(self._ev(spark, rows)).collect()
            if r["event_type"] == "a"
        ]
        out.sort()
        norm = [n for _, n in out]
        assert norm == sorted(norm)  # monotone mapping

    def test_nan_null_excluded(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            quantile_normalize,
        )
        rows = [("a", 1, 1.0), ("a", 2, float("nan")), ("a", 3, None)]
        assert quantile_normalize(self._ev(spark, rows)).count() == 1


class TestPointInTimeLabels:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, value double"
        )

    def test_leakage_contract_boundaries(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            point_in_time_labels,
        )
        cutoff = "2024-01-08 00:00:00"
        c = dt.datetime(2024, 1, 8)
        rows = [
            # exactly ON the cutoff -> lookback (half-open (c-L, c])
            (1, c, "view", 2.0),
            # 1s after cutoff, purchase -> horizon -> label 1, NOT a feature
            (1, c + dt.timedelta(seconds=1), "purchase", 9.0),
            # user 2: lookback feature, no horizon purchase -> label 0
            (2, c - dt.timedelta(days=1), "view", 3.0),
            # user 3: only a horizon event, no lookback -> NO row
            (3, c + dt.timedelta(days=1), "purchase", 1.0),
            # user 4: event before lookback window -> NO row
            (4, c - dt.timedelta(days=8), "view", 1.0),
        ]
        out = {
            r["user_id"]: r
            for r in point_in_time_labels(
                self._ev(spark, rows), [cutoff],
                F.col("event_type") == "purchase",
            ).collect()
        }
        assert set(out) == {1, 2}
        assert out[1]["n_events_lb"] == 1 and out[1]["value_lb"] == 2.0
        assert out[1]["label"] == 1  # future purchase labels, never feeds
        assert out[2]["label"] == 0

    def test_nan_value_counts_but_does_not_sum(self, spark):
        import datetime as dt
        from big_data_project_datapipeline_spark.functions.quality import (
            point_in_time_labels,
        )
        c = dt.datetime(2024, 1, 8)
        rows = [(1, c, "view", float("nan")), (1, c, "view", 5.0)]
        out = point_in_time_labels(
            self._ev(spark, rows), ["2024-01-08 00:00:00"],
            F.col("event_type") == "purchase",
        ).first()
        assert out["n_events_lb"] == 2 and out["value_lb"] == 5.0


class TestRetrievalEval:
    def test_metrics_from_known_rankings(self, spark):
        """Drive the q168 metric tail on a hand-built ranked frame by
        monkeypatch-free recomputation: verify RR and binary nDCG
        formulas on crafted relevance patterns."""
        from pyspark.sql import Window
        rows = (
            # query 1: relevant at ranks 2 and 3 of 3
            [(1, 1, 0), (1, 2, 1), (1, 3, 1)]
            # query 2: nothing relevant
            + [(2, 1, 0), (2, 2, 0), (2, 3, 0)]
        )
        j = spark.createDataFrame(rows, "query_id long, rank int, rel int")
        wq = Window.partitionBy("query_id")
        staged = j.select(
            "query_id", "rank", "rel",
            F.sum("rel").over(wq).cast("long").alias("nrel"),
        )
        import math
        dcg_term = F.round(
            F.col("rel").cast("double") / F.log(F.col("rank").cast("double") + F.lit(1.0)), 9
        ).cast("decimal(18,9)")
        idcg_term = F.when(
            F.col("rank") <= F.col("nrel"),
            F.round(F.lit(1.0) / F.log(F.col("rank").cast("double") + F.lit(1.0)), 9).cast("decimal(18,9)"),
        )
        out = {
            r["query_id"]: r
            for r in staged.groupBy("query_id").agg(
                F.max("nrel").alias("n_rel"),
                F.round(F.coalesce(F.lit(1.0) / F.min(F.when(F.col("rel") == 1, F.col("rank"))).cast("double"), F.lit(0.0)), 6).alias("rr"),
                F.sum(dcg_term).alias("dcg"),
                F.sum(idcg_term).alias("idcg"),
            ).collect()
        }
        assert out[1]["rr"] == 0.5
        dcg = 1 / math.log(3) + 1 / math.log(4)
        idcg = 1 / math.log(2) + 1 / math.log(3)
        assert abs(float(out[1]["dcg"]) / float(out[1]["idcg"]) - dcg / idcg) < 1e-6
        assert out[2]["rr"] == 0.0 and out[2]["idcg"] is None


class TestTvDistanceDevice:
    """q170's TV formula on a crafted frame: verify the absent-mass
    identity (languages a source lacks contribute their corpus share)."""

    def test_hand_computed_tv(self, spark):
        from pyspark.sql import Window
        # source A: 3 en; source B: 1 en, 2 fr.
        # corpus: en 4/6, fr 2/6.
        # A: |1 - 4/6|/... TV_A = (|1-2/3| + |0-1/3|)/2 = 1/3
        # B: (|1/3-2/3| + |2/3-1/3|)/2 = 1/3
        d = spark.createDataFrame(
            [(1, "A", "en"), (2, "A", "en"), (3, "A", "en"),
             (4, "B", "en"), (5, "B", "fr"), (6, "B", "fr")],
            "doc_id long, source string, lang string",
        )
        cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("c"))
        staged = cells.select(
            "source", "lang", "c",
            F.sum("c").over(Window.partitionBy("source")).cast("long").alias("ns"),
            F.sum("c").over(Window.partitionBy("lang")).cast("long").alias("nl"),
            F.sum("c").over(Window.partitionBy()).cast("long").alias("nn"),
        )
        term = F.round(F.abs(F.col("c").cast("double")/F.col("ns").cast("double")
                             - F.col("nl").cast("double")/F.col("nn").cast("double")), 9).cast("decimal(18,9)")
        pq = F.round(F.col("nl").cast("double")/F.col("nn").cast("double"), 9).cast("decimal(18,9)")
        agg = staged.groupBy("source").agg(
            F.sum(term).alias("sp"), F.sum(pq).alias("cq"))
        out = {r["source"]: round((float(r["sp"]) + (1.0 - float(r["cq"]))) / 2.0, 6)
               for r in agg.collect()}
        assert abs(out["A"] - 1/3) < 1e-6
        assert abs(out["B"] - 1/3) < 1e-6


class TestLorenzConcentration:
    def test_hand_computed_quartiles(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            lorenz_concentration,
        )

        # one group, 4 customers with spends 40, 30, 20, 10 (total 100)
        rows = [("g", c, v) for c, v in [(1, 40.0), (2, 30.0), (3, 20.0), (4, 10.0)]]
        df = spark.createDataFrame(rows, "grp string, cust long, spend double")
        out = {
            r["point"]: r
            for r in lorenz_concentration(
                df, "spend", "cust", "grp", n_points=4
            ).collect()
        }
        # rank r serves point d=r exactly (n == n_points): shares are
        # the running 40/70/90/100 percent
        assert [out[d]["cum_value_share"] for d in (1, 2, 3, 4)] == [
            0.4,
            0.7,
            0.9,
            1.0,
        ]
        assert all(out[d]["top_entities"] == d for d in (1, 2, 3, 4))
        assert all(out[d]["n_entities"] == 4 for d in (1, 2, 3, 4))

    def test_boundary_multiplicity_small_group(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            lorenz_concentration,
        )

        # 2 entities, 10 points: rank 1 serves points 1..5, rank 2
        # serves 6..10 (ceil(d*2/10) mapping)
        df = spark.createDataFrame(
            [("g", 1, 75.0), ("g", 2, 25.0)],
            "grp string, cust long, spend double",
        )
        out = lorenz_concentration(df, "spend", "cust", "grp", 10).collect()
        got = {(r["point"], r["top_entities"]) for r in out}
        assert got == {(d, 1) for d in range(1, 6)} | {
            (d, 2) for d in range(6, 11)
        }

    def test_zero_total_group_yields_null_share(self, spark):
        """ADVICE r6: a group whose values sum to exactly 0 must yield
        NULL shares on both engines (nullif-guarded division), not a
        Spark-NULL / DuckDB-inf parity break."""
        from big_data_project_datapipeline_spark.functions.quality import (
            lorenz_concentration,
        )

        df = spark.createDataFrame(
            [("z", 1, 5.0), ("z", 2, -5.0), ("g", 1, 10.0)],
            "grp string, cust long, spend double",
        )
        out = lorenz_concentration(df, "spend", "cust", "grp", 2).collect()
        z = [r for r in out if r["grp"] == "z"]
        g = [r for r in out if r["grp"] == "g"]
        assert z and all(r["cum_value_share"] is None for r in z)
        assert g and all(r["cum_value_share"] == 1.0 for r in g)


class TestRrfFusion:
    def test_hand_computed_fusion(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            rrf_fusion,
        )

        # Signal a ranks 1,2,3 = items 10,20,30; signal b the reverse.
        rows = [("g", 10, 3.0, 1.0), ("g", 20, 2.0, 2.0), ("g", 30, 1.0, 3.0)]
        df = spark.createDataFrame(
            rows, "grp string, item long, a double, b double"
        )
        out = {
            r["item"]: r
            for r in rrf_fusion(df, ["a", "b"], "item", "grp", k=3, c=60).collect()
        }
        # symmetric ranks -> equal rrf for 10 and 30; 20 has 1/62+1/62
        assert out[10]["rank_a"] == 1 and out[10]["rank_b"] == 3
        assert out[30]["rank_a"] == 3 and out[30]["rank_b"] == 1
        assert out[10]["rrf_score"] == out[30]["rrf_score"]
        # convexity of 1/x: 1/61 + 1/63 > 2/62, so the spread-rank
        # items beat the middle one; their tie breaks on item id
        assert out[10]["fused_rank"] == 1 and out[30]["fused_rank"] == 2
        assert out[20]["fused_rank"] == 3

    def test_top_k_cut(self, spark):
        from big_data_project_datapipeline_spark.functions.quality import (
            rrf_fusion,
        )

        rows = [("g", i, float(i), float(-i)) for i in range(1, 8)]
        df = spark.createDataFrame(
            rows, "grp string, item long, a double, b double"
        )
        assert rrf_fusion(df, ["a", "b"], "item", "grp", k=4).count() == 4

    def test_null_score_keeps_item_and_other_ranks(self, spark):
        """ADVICE r6: an item NULL in one signal keeps the other
        signals' terms (sum over runs containing the document) and must
        not shift the other items' ranks in any signal."""
        from big_data_project_datapipeline_spark.functions.quality import (
            rrf_fusion,
        )

        # item 20 has no b score; a ranks 10,20,30 -> 1,2,3 and
        # b ranks 10,30 -> 2,1 (unshifted by 20's absence)
        rows = [
            ("g", 10, 3.0, 1.0),
            ("g", 20, 2.0, None),
            ("g", 30, 1.0, 3.0),
        ]
        df = spark.createDataFrame(
            rows, "grp string, item long, a double, b double"
        )
        out = {
            r["item"]: r
            for r in rrf_fusion(
                df, ["a", "b"], "item", "grp", k=3, c=60
            ).collect()
        }
        assert set(out) == {10, 20, 30}
        assert out[20]["rank_a"] == 2 and out[20]["rank_b"] is None
        assert out[10]["rank_b"] == 2 and out[30]["rank_b"] == 1
        assert out[20]["rrf_score"] == round(1.0 / 62.0, 6)
        assert out[10]["rrf_score"] == round(1.0 / 61.0 + 1.0 / 62.0, 6)


class TestC4LineFilter:
    """Round-10: line-level C4 cleaning (text.c4_line_filter).
    Rule-cascade attribution, boundary values, reassembly order, and
    the all-dropped / empty-text degenerate stories."""

    def _run(self, spark, text, **kw):
        from big_data_project_datapipeline_spark.functions.text import (
            c4_line_filter,
        )

        return c4_line_filter(_docs(spark, [(1, text)]), **kw).first()

    def test_mixed_doc_per_rule_attribution(self, spark):
        out = self._run(
            spark,
            "This is a good long sentence with many words here.\n"
            "short one\n"
            "Enable javascript to view this page properly okay.\n"
            "function foo() { return 1; }\n"
            'Another fine long sentence that ends with a quote."',
        )
        assert out["n_lines"] == 5
        assert out["n_kept"] == 2
        assert out["n_short"] == 1
        # the brace line fails terminal punct BEFORE the brace rule —
        # the documented first-failing cascade priority
        assert out["n_no_punct"] == 1
        assert out["n_boilerplate"] == 1
        assert out["n_brace"] == 0
        assert out["kept_words"] == 19
        assert out["text_clean"] == (
            "This is a good long sentence with many words here.\n"
            'Another fine long sentence that ends with a quote."'
        )

    def test_brace_rule_fires_on_punct_terminated_line(self, spark):
        out = self._run(
            spark, "A braces line has some words { inside } and ends fine."
        )
        assert out["n_brace"] == 1 and out["n_kept"] == 0
        assert out["text_clean"] == ""

    def test_min_words_boundary_inclusive(self, spark):
        # exactly min_words survives; one fewer drops as short
        keep = self._run(spark, "Exactly five words ending here.")
        drop = self._run(spark, "Only four words here.")
        assert keep["n_kept"] == 1 and keep["kept_words"] == 5
        assert drop["n_short"] == 1 and drop["n_kept"] == 0

    def test_terminal_punct_variants(self, spark):
        for tail in [".", "!", "?", '"']:
            out = self._run(
                spark, f"A line with enough words ending properly{tail}"
            )
            assert out["n_kept"] == 1, tail
        # trailing spaces are rtrimmed before the punct check
        out = self._run(spark, "A line with enough words ending properly.   ")
        assert out["n_kept"] == 1
        out = self._run(spark, "a long enough line with no terminal mark")
        assert out["n_no_punct"] == 1 and out["n_kept"] == 0

    def test_punct_rule_gated_off(self, spark):
        out = self._run(
            spark,
            "a long enough line with no terminal mark",
            require_terminal_punct=False,
        )
        assert out["n_kept"] == 1 and out["n_no_punct"] == 0

    def test_boilerplate_case_insensitive(self, spark):
        out = self._run(
            spark, "Read our Cookie Policy before continuing to browse."
        )
        assert out["n_boilerplate"] == 1

    def test_empty_text_single_short_line(self, spark):
        out = self._run(spark, "")
        assert out["n_lines"] == 1 and out["n_short"] == 1
        assert out["kept_words"] == 0 and out["text_clean"] == ""

    def test_reassembly_preserves_line_order(self, spark):
        out = self._run(
            spark,
            "Alpha line one has plenty of words to survive easily.\n"
            "skip\n"
            "Beta line two also has plenty of words to survive easily.",
        )
        assert out["text_clean"].split("\n") == [
            "Alpha line one has plenty of words to survive easily.",
            "Beta line two also has plenty of words to survive easily.",
        ]
