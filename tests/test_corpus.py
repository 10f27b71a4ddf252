"""Corpus-level stats (functions/corpus.py): bigram LM, token-budget
sampling, Zipf fit, lexical diversity, source-profile similarity — each
against a hand-computed or pure-Python reference."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions import corpus as CO

CORPUS = [
    (0, "srcA", "the cat sat on the mat"),
    (1, "srcA", "the cat ran"),
    (2, "srcB", "the cat sat on the mat"),
    (3, "srcB", "dog dog dog dog"),
    (4, "srcC", "one lonely"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        CORPUS, "doc_id long, source string, text string"
    )


def _py_bigrams():
    pairs = Counter()
    for _, _, text in CORPUS:
        t = text.lower().split()
        pairs.update(zip(t, t[1:]))
    return pairs


def test_bigram_model_counts_and_conditionals(corpus):
    rows = CO.bigram_model(corpus, top_n=1000).collect()
    expected = _py_bigrams()
    got = {(r.w1, r.w2): r.pair_count for r in rows}
    assert got == dict(expected)
    # MLE normalization: P(.|w1) sums to 1 over the full (untruncated)
    # model, because the denominator is the bigram-first count.
    by_w1 = Counter()
    for r in rows:
        by_w1[r.w1] += r.cond_p
    for w1, total in by_w1.items():
        assert total == pytest.approx(1.0, abs=1e-5), w1
    # Spot-check: 'the' starts 5 bigrams, 'the cat' appears 3 times.
    r = next(r for r in rows if (r.w1, r.w2) == ("the", "cat"))
    assert (r.pair_count, r.first_count) == (3, 5)
    assert r.cond_p == pytest.approx(0.6)


def test_bigram_model_top_n_is_count_ordered(corpus):
    rows = CO.bigram_model(corpus, top_n=2).collect()
    assert len(rows) == 2
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert (rows[0].w1, rows[0].w2) == ("dog", "dog")  # 3 occurrences


def _py_priority(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)


def test_token_budget_sample_inclusive_prefix(spark):
    # One source, tiny budget: docs admitted in md5-priority order while
    # the running total stays <= budget (inclusive).
    docs = [(i, "s", "w " * (i + 1)) for i in range(6)]  # 1..6 tokens
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    budget = 9
    out = {
        r.doc_id: (r.n_tokens, r.cum_tokens)
        for r in CO.token_budget_sample(df, budget=budget).collect()
    }
    order = sorted(range(6), key=lambda i: (_py_priority(i), i))
    cum, expected = 0, {}
    for i in order:
        n = i + 1
        if cum + n > budget:
            break  # sequential admission stops at the first overflow
        cum += n
        expected[i] = (n, cum)
    assert out == expected
    assert max(c for _, c in out.values()) <= budget


def test_token_budget_sample_per_source_independent(corpus):
    out = CO.token_budget_sample(corpus, budget=10**6).collect()
    # Budget far above corpus size: everything kept, cum is per-source.
    assert len(out) == len(CORPUS)
    per_source_max = {}
    for r in out:
        per_source_max[r.source] = max(
            per_source_max.get(r.source, 0), r.cum_tokens
        )
    totals = Counter()
    for _, src, text in CORPUS:
        totals[src] += len(text.split())
    assert per_source_max == dict(totals)


def test_zipf_fit_matches_python_ols(spark):
    # Perfect power law: token w_r appears round(1000 / r) times.
    rows = []
    did = 0
    for r in range(1, 21):
        for _ in range(round(1000 / r)):
            rows.append((did, f"w{r:02d}"))
            did += 1
    df = spark.createDataFrame(
        [(i, t) for i, t in rows], "doc_id long, text string"
    )
    out = CO.zipf_fit(df, top_ranks=20).collect()[0]
    assert out.n_ranks == 20
    xs = [math.log(r) for r in range(1, 21)]
    ys = [math.log(round(1000 / r)) for r in range(1, 21)]
    n = 20.0
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert out.zipf_slope == pytest.approx(slope, abs=1e-6)
    assert out.zipf_slope == pytest.approx(-1.0, abs=0.01)
    assert out.zipf_intercept == pytest.approx((sy - slope * sx) / n, abs=1e-6)


def test_token_diversity_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (0, "a b c d"),      # uniform: H = 2 bits, TTR = 1
            (1, "a a a a"),      # degenerate: H = 0, TTR = 0.25
            (2, "a a b"),        # H = -(2/3 lg 2/3 + 1/3 lg 1/3)
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in CO.token_diversity(df).collect()}
    assert out[0].entropy_bits == pytest.approx(2.0, abs=1e-6)
    assert out[0].ttr == 1.0
    assert out[1].entropy_bits == pytest.approx(0.0, abs=1e-6)
    assert out[1].ttr == 0.25
    h2 = -(2 / 3 * math.log2(2 / 3) + 1 / 3 * math.log2(1 / 3))
    assert out[2].entropy_bits == pytest.approx(h2, abs=1e-6)
    assert out[2].n_tokens == 3 and out[2].n_distinct == 2


def test_source_similarity_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (0, "s1", "alpha beta gamma"),
            (1, "s2", "alpha beta gamma"),   # identical profile to s1
            (2, "s3", "delta epsilon"),      # disjoint from both
        ],
        "doc_id long, source string, text string",
    )
    rows = CO.source_profile_similarity(df, vocab_size=10).collect()
    got = {(r.src_a, r.src_b): r.cosine for r in rows}
    assert got[("s1", "s2")] == pytest.approx(1.0)
    # Disjoint profiles share no token rows, so the pair is absent
    # (implicit cosine 0) — the sparse-output contract.
    assert ("s1", "s3") not in got and ("s2", "s3") not in got


def test_source_similarity_hand_computed_overlap(spark):
    df = spark.createDataFrame(
        [
            (0, "s1", "a a b"),
            (1, "s2", "a b b"),
        ],
        "doc_id long, source string, text string",
    )
    rows = CO.source_profile_similarity(df, vocab_size=10).collect()
    # profiles: s1 = {a:2, b:1}, s2 = {a:1, b:2}; cos = 4 / 5
    assert len(rows) == 1
    assert rows[0].cosine == pytest.approx(4 / 5, abs=1e-6)


def test_source_similarity_vocab_prune_bounds_join(spark):
    # With vocab_size=1 only the globally-dominant token survives the
    # prune, so cosine collapses to 1.0 for every co-occurring pair.
    df = spark.createDataFrame(
        [
            (0, "s1", "a a a b"),
            (1, "s2", "a c"),
        ],
        "doc_id long, source string, text string",
    )
    rows = CO.source_profile_similarity(df, vocab_size=1).collect()
    assert len(rows) == 1
    assert rows[0].cosine == pytest.approx(1.0)


def test_tokenizer_fertility_hand_computed(spark):
    import __spark_entry__ as E
    import tempfile, os
    # "ab cd." -> words 2; BPE tokens: ab, cd, '.' = 3; chars 6
    df = spark.createDataFrame(
        [(0, "ab cd.", "en", "s", 6), (1, "x y", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = E.q106_tokenizer_fertility(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_docs, r.total_words, r.total_bpe_tokens, r.total_chars) == (
        2, 4, 5, 9,
    )
    assert r.chars_per_token == pytest.approx(9 / 5, abs=1e-6)
    assert r.tokens_per_word == pytest.approx(5 / 4, abs=1e-6)


def test_oov_rate_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (0, "en", "a a a b"),   # 'a' dominant
            (1, "de", "a c c"),     # 'c' second, 'b' third
        ],
        "doc_id long, lang string, text string",
    )
    out = {
        r.lang: r for r in CO.oov_rate(df, vocab_size=2).collect()
    }
    # Global counts: a=4, c=2, b=1 -> vocab {a, c}; 'b' is OOV.
    en, de = out["en"], out["de"]
    assert (en.total_tokens, en.oov_tokens) == (4, 1)
    assert (en.distinct_tokens, en.oov_distinct) == (2, 1)
    assert en.oov_rate == pytest.approx(0.25)
    assert (de.total_tokens, de.oov_tokens) == (3, 0)
    assert de.oov_rate == 0.0


def test_curation_report_precedence(spark):
    import __spark_entry__ as E
    import tempfile, os
    good = ("the quick brown fox is running with the lazy dog "
            "and it is that fast for everyone involved")
    docs = [
        (0, good, "en", "s1", len(good)),
        (1, good, "en", "s1", len(good)),        # exact dup of 0
        # q = 0.25 (only punct passes): 1 token, avg len > 12, no stopwords
        (2, "z" * 20, "en", "s1", 20),           # unique but low quality
        (3, "Y" * 20 + "!!", "en", "s2", 22),    # low quality, distinct fp
    ]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.source: r
            for r in E.q110_curation_report(spark, d).collect()
        }
    s1 = out["s1"]
    # doc 1 counts as dup (never as low-quality); doc 2 as low-quality.
    assert (s1.n_docs, s1.n_dups_removed, s1.n_low_quality, s1.n_kept) == (
        3, 1, 1, 1,
    )
    assert s1.kept_frac == pytest.approx(1 / 3, abs=1e-6)
    s2 = out["s2"]
    assert (s2.n_docs, s2.n_dups_removed, s2.n_low_quality, s2.n_kept) == (
        1, 0, 1, 0,
    )


def test_dsir_importance_directionality(spark):
    # Target slice speaks {aa, bb}; raw docs that share that vocab must
    # outscore raw docs that don't (the whole point of DSIR).
    df = spark.createDataFrame(
        [
            (0, "aa bb aa bb", "tgt"),
            (1, "aa bb bb aa", "tgt"),
            (2, "aa bb aa", "raw"),      # target-like
            (3, "zz yy xx ww", "raw"),   # off-distribution
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in CO.dsir_importance(
            df, target_source="tgt", n_buckets=64
        ).collect()
    }
    assert set(out) == {2, 3}  # only non-target docs are scored
    assert out[2].n_tokens == 3 and out[3].n_tokens == 4
    assert out[2].avg_log_weight > out[3].avg_log_weight
    assert out[2].log_weight > 0 > out[3].log_weight


def test_bigram_logprob_hand_computed(spark):
    # Corpus: doc0 = "a b a b" (pairs ab, ba, ab), doc1 = "a b" (ab).
    # V = 2, k = 0.5: c(ab)=3, c(ba)=1, c(a,*)=3... careful: first-counts
    # come from pair firsts: a starts ab(3) -> c1(a)=3; b starts ba(1).
    import math

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "solo")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in CO.bigram_logprob_scores(df, k=0.5).collect()
    }
    assert set(out) == {0, 1}  # <2 tokens -> no bigrams, no row
    V = 3  # vocab includes 'solo'
    p_ab = (3 + 0.5) / (3 + 0.5 * V)
    p_ba = (1 + 0.5) / (1 + 0.5 * V)
    exp0 = (2 * math.log(p_ab) + 1 * math.log(p_ba)) / 3
    assert out[0].n_pairs == 3
    assert out[0].avg_logprob == pytest.approx(exp0, abs=1e-6)
    assert out[0].ppl == pytest.approx(math.exp(-exp0), abs=1e-4)
    assert out[1].n_pairs == 1
    assert out[1].avg_logprob == pytest.approx(math.log(p_ab), abs=1e-6)


def test_hashed_logit_score_known_weights(spark):
    # With every bucket weight forced to a constant, the mean collapses
    # to that constant regardless of tokens — pins the c-weighted mean
    # and the sigmoid surface.
    import math

    df = spark.createDataFrame(
        [(0, "x y z"), (1, "x")], "doc_id long, text string"
    )
    w = spark.range(32).select(
        F.col("id").cast("int").alias("bucket"),
        F.lit(0.5).alias("weight"),
    )
    out = {
        r.doc_id: r
        for r in CO.hashed_logit_score(
            df, w, bias=1.0, n_buckets=32
        ).collect()
    }
    for r in out.values():
        assert r.logit == pytest.approx(1.5, abs=1e-9)
        assert r.prob == pytest.approx(1 / (1 + math.exp(-1.5)), abs=1e-6)
    assert out[0].n_tokens == 3 and out[1].n_tokens == 1


def test_default_hash_weights_range_and_determinism(spark):
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    w = CO.default_hash_weights(df, n_buckets=100).collect()
    assert len(w) == 100
    assert all(-1.0 <= r.weight < 1.0 for r in w)
    again = {r.bucket: r.weight for r in CO.default_hash_weights(df, 100).collect()}
    assert all(again[r.bucket] == r.weight for r in w)


def test_normalize_text_crafted(spark):
    from big_data_project_datapipeline_spark.functions import text as TX

    df = spark.createDataFrame(
        [
            (0, "  Hello,   WORLD!  "),
            (1, "tabs\tand\nnewlines"),
            (2, "already clean"),
            (3, "123-456 #ok"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.norm
        for r in df.select(
            "doc_id", TX.normalize_text(F.col("text")).alias("norm")
        ).collect()
    }
    assert out[0] == "hello world"
    assert out[1] == "tabs and newlines"
    assert out[2] == "already clean"
    assert out[3] == "123 456 ok"


def test_temperature_mix_flattens(spark):
    # alpha < 1 upweights the tail source and downweights the head;
    # alpha = 1 keeps natural proportions (upsample factor 1).
    df = spark.createDataFrame(
        [(0, "big", "a b c d e f g h"), (1, "big", "a b c d e f g h"),
         (2, "small", "a b")],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in CO.temperature_mix_weights(df, alpha=0.5).collect()}
    assert out["small"].upsample_factor > 1.0 > out["big"].upsample_factor
    assert out["small"].p_temp > out["small"].p_orig
    flat = {r.source: r for r in CO.temperature_mix_weights(df, alpha=1.0).collect()}
    for r in flat.values():
        assert r.upsample_factor == pytest.approx(1.0, abs=1e-6)
        assert r.p_temp == pytest.approx(r.p_orig, abs=1e-6)
    # shares sum to 1
    assert sum(r.p_temp for r in out.values()) == pytest.approx(1.0, abs=1e-5)


def test_bpe_pair_stats_hand_computed(spark):
    # words: "ab" x3, "abc" x1, "x" x2 (too short -> no pairs)
    df = spark.createDataFrame(
        [(0, "ab ab abc x"), (1, "ab x")], "doc_id long, text string"
    )
    rows = CO.bpe_pair_stats(df, top_n=10).collect()
    got = {(r.s1, r.s2): r.pair_count for r in rows}
    # ab: 3 occurrences of word 'ab' + 1 inside 'abc' = 4; bc: 1
    assert got == {("a", "b"): 4, ("b", "c"): 1}
    # ordering: count desc
    assert rows[0].pair_count == 4


def test_token_drift_detects_shift(spark):
    import math

    # source "stable": identical distributions across snapshots;
    # source "shifted": disjoint vocabularies.
    rows = [
        (0, "stable", "a b c", False), (1, "stable", "a b c", True),
        (2, "shifted", "x x y", False), (3, "shifted", "p q q", True),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, is_new boolean"
    )
    out = {r.source: r for r in CO.token_drift(df, "is_new", alpha=0.5).collect()}
    st, sh = out["stable"], out["shifted"]
    assert st.jeffreys == pytest.approx(0.0, abs=1e-9)  # identical dists
    assert sh.jeffreys > 0.5  # disjoint vocab drifts hard
    assert (sh.n_tokens_old, sh.n_tokens_new, sh.vocab_size) == (3, 3, 4)
    # hand-check KL(old||new) for the shifted source
    V, a = 4, 0.5
    def p(c, t): return (c + a) / (t + a * V)
    pa = [p(2,3), p(1,3), p(0,3), p(0,3)]  # x, y, p, q under old
    pb = [p(0,3), p(0,3), p(1,3), p(2,3)]  # under new
    kl = sum(x * (math.log(x) - math.log(y)) for x, y in zip(pa, pb))
    assert sh.kl_old_new == pytest.approx(kl, abs=1e-6)


def test_weighted_sample_matches_python_es(spark):
    import hashlib
    import math

    rows = [(i, "s" if i < 12 else "t", "w " * (i + 1)) for i in range(20)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = CO.weighted_sample(df, k=3).collect()

    def key(i):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        u = (float(h) + 1.0) / float(1 << 60)
        return math.log(u) / float(i + 1)

    expect = {}
    for grp, ids in (("s", range(12)), ("t", range(12, 20))):
        ranked = sorted(ids, key=lambda i: (-key(i), i))[:3]
        expect[grp] = ranked
    got = {}
    for r in sorted(out, key=lambda r: (r.source, r.sample_rank)):
        got.setdefault(r.source, []).append(r.doc_id)
    assert got == expect
    for r in out:
        assert r.weight == r.doc_id + 1
        assert r.es_key == pytest.approx(key(r.doc_id), abs=1e-6)


def test_weighted_sample_is_length_biased(spark):
    # Across many md5 draws, heavy docs must be selected far more often
    # than light ones: weight 50 vs weight 1 in a 2-slot reservoir.
    rows = [(i, "g", ("w " * 50) if i % 2 == 0 else "w") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = CO.weighted_sample(df, k=20, group_col="source")
    heavy = sum(1 for r in out.collect() if r.weight == 50)
    assert heavy >= 16  # 100 heavy vs 100 light at 50x weight


def test_dsir_weight_table_is_complete_over_buckets(spark):
    # Incremental-store case: scoring docs whose tokens hash to buckets
    # the count store never saw must still apply smoothing, not drop
    # tokens/docs in the scoring join.
    store_docs = spark.createDataFrame(
        [(0, "tgt", "aa bb"), (1, "raw", "aa cc")],
        "doc_id long, source string, text string",
    )
    counts = CO.dsir_bucket_counts(store_docs, "tgt", n_buckets=32)
    weights = CO.dsir_weights_from_counts(counts, 32, alpha=1.0)
    assert weights.count() == 32  # complete, not just observed buckets
    # candidates with entirely NEW vocabulary still get scored
    new_docs = spark.createDataFrame(
        [(9, "zz qq ww")], "doc_id long, text string"
    )
    out = CO.dsir_score_docs(new_docs, weights, n_buckets=32).collect()
    assert len(out) == 1 and out[0].n_tokens == 3


def test_hashed_logit_sparse_weights_keep_docs(spark):
    # A sparse trained weight table must not drop tokens or docs;
    # unseen buckets contribute missing_weight.
    df = spark.createDataFrame([(0, "only new tokens here")],
                               "doc_id long, text string")
    empty_w = spark.createDataFrame([], "bucket int, weight double")
    out = CO.hashed_logit_score(
        df, empty_w, bias=0.25, n_buckets=16, missing_weight=0.0
    ).collect()
    assert len(out) == 1
    assert out[0].n_tokens == 4 and out[0].logit == pytest.approx(0.25)


def test_weighted_sample_fractional_weights_preserved(spark):
    df = spark.createDataFrame(
        [(0, "g", "x", 0.75), (1, "g", "y", 0.25)],
        "doc_id long, source string, text string, score double",
    )
    out = {r.doc_id: r.weight
           for r in CO.weighted_sample(df, k=2, weight_col="score").collect()}
    assert out == {0: 0.75, 1: 0.25}  # not truncated to 0


class TestClassLogOdds:
    def test_distinctive_terms_surface(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            class_log_odds,
        )
        # 'cat' dominates class a, 'dog' class b; 'the' is shared
        rows = [(i, "the cat " * 10, "a") for i in range(5)] + [
            (i + 10, "the dog " * 10, "b") for i in range(5)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = class_log_odds(df, class_col="lang", top_k=2).collect()
        top = {(r["lang"], r["rank"]): r["token"] for r in out}
        assert top[("a", 1)] == "cat" and top[("b", 1)] == "dog"
        za = {r["token"]: r["z"] for r in out if r["lang"] == "a"}
        assert za["cat"] > za.get("the", -999)

    def test_shared_terms_near_zero(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            class_log_odds,
        )
        rows = [(1, "x y z", "a"), (2, "x y z", "b")]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = class_log_odds(df, class_col="lang", top_k=5).collect()
        assert all(abs(r["z"]) < 1e-6 for r in out)


class TestNegativePairs:
    def _d(self, spark, n):
        return spark.createDataFrame(
            [(i, "t", "en", "s", 1) for i in range(n)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    def test_exactly_k_per_doc_no_self(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            negative_pairs,
        )
        out = negative_pairs(self._d(spark, 200), k=3, n_buckets=4).collect()
        per = {}
        for r in out:
            per.setdefault(r["doc_id"], []).append(r["neg_doc_id"])
            assert r["neg_doc_id"] != r["doc_id"]
        assert len(per) == 200 and all(len(v) == 3 for v in per.values())
        # negatives are distinct partners per anchor
        assert all(len(set(v)) == 3 for v in per.values())

    def test_deterministic_across_partitionings(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            negative_pairs,
        )
        d = self._d(spark, 100)
        a = sorted(map(tuple, negative_pairs(d, k=2).collect()))
        b = sorted(map(tuple, negative_pairs(d.repartition(7), k=2).collect()))
        assert a == b

    def test_tiny_block_distinct_negatives_not_self(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            negative_pairs,
        )
        # 2 docs, 1 bucket, k=3: shifts are capped at nb-1 = 1, so each
        # doc gets exactly ONE pair (its only possible partner) — j=2
        # would be self and j=3 would DUPLICATE the j=1 partner (the r4
        # advice defect this pins as fixed).
        out = negative_pairs(self._d(spark, 2), k=3, n_buckets=1).collect()
        assert all(r["neg_doc_id"] != r["doc_id"] for r in out)
        assert len(out) == 2
        per = {}
        for r in out:
            per.setdefault(r["doc_id"], []).append(r["neg_doc_id"])
        assert all(len(v) == len(set(v)) == 1 for v in per.values())


class TestPositivePairs:
    def test_split_halves_and_fingerprints(self, spark):
        import hashlib
        from big_data_project_datapipeline_spark.functions.corpus import (
            positive_pairs,
        )
        d = spark.createDataFrame(
            [(1, "a b c d e"), (2, "x y"), (3, "solo"), (4, None), (5, "")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in positive_pairs(d).collect()}
        assert set(out) == {1, 2}  # <2-token docs excluded
        r = out[1]
        assert (r["anchor_len"], r["positive_len"]) == (2, 3)
        assert r["anchor_md5"] == hashlib.md5(b"a b").hexdigest()
        assert r["positive_md5"] == hashlib.md5(b"c d e").hexdigest()
        assert out[2]["anchor_md5"] == hashlib.md5(b"x").hexdigest()


# ------------------------------------------------------- naive bayes (q216)


def test_naive_bayes_separable_corpus_is_diagonal(spark):
    """Fully separable vocabularies per class: the training-set
    confusion matrix is diagonal with per-class doc counts."""
    from big_data_project_datapipeline_spark.functions.corpus import (
        naive_bayes_confusion,
    )

    docs = [
        (1, "x x y", "en"),
        (2, "x y y", "en"),
        (3, "z z w", "de"),
        (4, "w z", "de"),
        (5, "z w w", "de"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    got = {
        (r["lang"], r["predicted"]): r["n_docs"]
        for r in naive_bayes_confusion(df).collect()
    }
    assert got == {("en", "en"): 2, ("de", "de"): 3}


def test_naive_bayes_exact_tie_breaks_to_smallest_class(spark):
    """Two classes with mirror-image evidence: every score ties, so
    the argmax must deterministically pick the smallest class label
    (the min-struct device) — both docs land on class 'a'."""
    from big_data_project_datapipeline_spark.functions.corpus import (
        naive_bayes_confusion,
    )

    df = spark.createDataFrame(
        [(1, "x", "a"), (2, "x", "b")], ["doc_id", "text", "lang"]
    )
    got = {
        (r["lang"], r["predicted"]): r["n_docs"]
        for r in naive_bayes_confusion(df).collect()
    }
    assert got == {("a", "a"): 1, ("b", "a"): 1}


def test_naive_bayes_smoothing_handles_unseen_class_tokens(spark):
    """A doc whose tokens never appear in the other class still gets
    finite scores everywhere (add-α floor, no -inf), and doc counts
    conserve over tokenized docs — the empty-text doc drops."""
    from big_data_project_datapipeline_spark.functions.corpus import (
        naive_bayes_confusion,
    )

    docs = [
        (1, "q q q", "en"),
        (2, "r r r", "de"),
        (3, "q r q", "en"),
        (4, "", "de"),  # zero tokens: drops from the decode
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    rows = naive_bayes_confusion(df).collect()
    assert sum(r["n_docs"] for r in rows) == 3
    got = {
        (r["lang"], r["predicted"]): r["n_docs"] for r in rows
    }
    assert got[("en", "en")] == 2 and got[("de", "de")] == 1


# --------------------------------------------------- pmi collocations (q218)


def test_pmi_collocations_hand_computed(spark):
    """Corpus: 'a b a b' / 'c c c c' / 'a c' → unigrams a:3 b:2 c:5
    (U=10), adjacent pairs ab:2 ba:1 cc:3 ac:1 (B=7). min_count=2
    keeps ab and cc; PMI(ab) = ln(2·10·10/(7·3·2)) = 1.560648,
    PMI(cc) = ln(3·10·10/(7·5·5)) = ln(12/7) = 0.538997 — ab ranks first."""
    from big_data_project_datapipeline_spark.functions.corpus import (
        pmi_collocations,
    )

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "c c c c"), (3, "a c")], ["doc_id", "text"]
    )
    rows = pmi_collocations(df, min_count=2, top_k=10).collect()
    assert [(r["w1"], r["w2"]) for r in rows] == [("a", "b"), ("c", "c")]
    ab, cc = rows
    assert (ab["pair_count"], ab["c1"], ab["c2"]) == (2, 3, 2)
    assert ab["pmi"] == pytest.approx(1.560648, abs=1e-6)
    assert cc["pmi"] == pytest.approx(0.538997, abs=1e-6)


def test_pmi_min_count_floor_drops_hapax_pairs(spark):
    """A pair seen once has maximal PMI by construction — the support
    floor must drop it or hapax noise dominates the head."""
    from big_data_project_datapipeline_spark.functions.corpus import (
        pmi_collocations,
    )

    df = spark.createDataFrame(
        [(1, "rare pair"), (2, "x y x y x y")], ["doc_id", "text"]
    )
    rows = pmi_collocations(df, min_count=2, top_k=10).collect()
    assert ("rare", "pair") not in {(r["w1"], r["w2"]) for r in rows}
    assert {(r["w1"], r["w2"]) for r in rows} == {("x", "y"), ("y", "x")}


# --------------------------- negative-sampling table (q227, round-10)


class TestNegativeSampling:
    def test_ranges_tile_and_weights_match_pow(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            negative_sampling_table,
        )

        docs = spark.createDataFrame(
            [(1, "a a a a b b c"), (2, "a b c c")],
            "doc_id long, text string",
        )
        rows = sorted(
            negative_sampling_table(docs).collect(),
            key=lambda r: r["token"],
        )
        # counts: a=5, b=3, c=3
        assert [(r["token"], r["n"]) for r in rows] == [
            ("a", 5), ("b", 3), ("c", 3),
        ]
        import math

        for r in rows:
            want = math.floor(r["n"] ** 0.75 * 1e9 + 0.5) / 1e9
            assert r["weight"] == want
        # half-open ranges tile the total mass in token order
        assert rows[0]["lo"] == 0.0
        for prev, cur in zip(rows, rows[1:]):
            assert prev["hi"] == cur["lo"]
        assert rows[-1]["hi"] == sum(r["weight"] for r in rows)
        # probabilities sum to ~1
        assert abs(sum(r["prob"] for r in rows) - 1.0) < 1e-6

    def test_alpha_one_is_unigram(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            negative_sampling_table,
        )

        docs = spark.createDataFrame(
            [(1, "x x y")], "doc_id long, text string"
        )
        rows = {
            r["token"]: r
            for r in negative_sampling_table(docs, alpha=1.0).collect()
        }
        assert rows["x"]["weight"] == 2.0 and rows["y"]["weight"] == 1.0
        assert rows["x"]["prob"] == pytest.approx(2.0 / 3.0, abs=1e-9)

    def test_empty_corpus_empty_table(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            negative_sampling_table,
        )

        docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
        assert negative_sampling_table(docs).count() == 0


# ----------------------------------- BPE merge trainer (q228, round-10)


class TestBpeTrainMerges:
    def test_hand_traced_three_rounds_then_exhaustion(self, spark):
        """'aaab aaab ab': round 1 merges (a,a) [count 4], round 2
        (a,b) [3], round 3 (aa,ab) [2] — a CHAINED merge using round
        1+2 symbols — then the pair space is exhausted and rounds 4+
        emit nothing."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            bpe_train_merges,
        )

        docs = spark.createDataFrame(
            [(1, "aaab aaab ab")], "doc_id long, text string"
        )
        rows = [
            (r["round"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train_merges(docs, n_merges=4).collect()
        ]
        assert rows == [
            (1, "a", "a", 4),
            (2, "a", "b", 3),
            (3, "aa", "ab", 2),
        ]

    def test_apply_merge_nonoverlap_left_to_right(self, spark):
        """The fold contract: 'aaa' under (a,a) -> [aa, a], 'aaaa' ->
        [aa, aa]; a merged token never re-merges within the round."""
        from pyspark.sql import functions as F

        from big_data_project_datapipeline_spark.functions.corpus import (
            _apply_merge,
        )

        df = spark.createDataFrame(
            [(["a", "a", "a"],), (["a", "a", "a", "a"],), (["b", "a"],),
             (["a"],)],
            "s array<string>",
        )
        got = [
            r["m"]
            for r in df.select(
                _apply_merge(F.col("s"), F.lit("a"), F.lit("a")).alias("m")
            ).collect()
        ]
        assert got == [["aa", "a"], ["aa", "aa"], ["b", "a"], ["a"]]

    def test_tie_breaks_lexicographically(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            bpe_train_merges,
        )

        # 'xy' and 'ab' both appear twice: (a,b) wins the tie
        docs = spark.createDataFrame(
            [(1, "xy xy ab ab")], "doc_id long, text string"
        )
        first = bpe_train_merges(docs, n_merges=1).first()
        assert (first["left"], first["right"]) == ("a", "b")


def test_bpe_compression_curve_hand_traced(spark):
    """'aaab aaab ab' (10 chars weighted): round 1 merges (a,a) —
    pair_count 4 but only TWO merges happen (overlap: 'aaa' counts 2
    pairs, merges once) -> 8 symbols; round 2 (a,b): 8-3=5; round 3
    (aa,ab): 5-2=3. The total_symbols column is exactly why the curve
    cannot be derived from pair counts."""
    from big_data_project_datapipeline_spark.functions.corpus import (
        bpe_compression_curve,
    )

    docs = spark.createDataFrame(
        [(1, "aaab aaab ab")], "doc_id long, text string"
    )
    rows = [
        (r["round"], r["left"], r["right"], r["pair_count"],
         r["total_symbols"], r["compression"])
        for r in bpe_compression_curve(docs, n_merges=3).collect()
    ]
    assert rows == [
        (1, "a", "a", 4, 8, 0.8),
        (2, "a", "b", 3, 5, 0.5),
        (3, "aa", "ab", 2, 3, 0.3),
    ]


def test_bpe_compression_strictly_decreases(spark):
    from big_data_project_datapipeline_spark.functions.corpus import (
        bpe_compression_curve,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat ran")],
        "doc_id long, text string",
    )
    rows = sorted(
        bpe_compression_curve(docs, n_merges=4).collect(),
        key=lambda r: r["round"],
    )
    totals = [r["total_symbols"] for r in rows]
    assert all(a > b for a, b in zip(totals, totals[1:]))


class TestGoodTuring:
    def test_hand_frequency_of_frequencies(self, spark):
        """corpus 'a a a b b c d': counts a=3,b=2,c=1,d=1 ->
        N_1=2, N_2=1, N_3=1, N=7; r*(1) = 2*N_2/N_1 = 1.0;
        r*(2) = 3*N_3/N_2 = 3.0; r*(3) NULL (no N_4);
        P0 = N_1/N = 2/7."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            good_turing,
        )

        docs = spark.createDataFrame(
            [(1, "a a a b b c d")], "doc_id long, text string"
        )
        rows = {r["r"]: r for r in good_turing(docs).collect()}
        assert rows[1]["n_types"] == 2 and rows[1]["r_star"] == 1.0
        assert rows[2]["n_types"] == 1 and rows[2]["r_star"] == 3.0
        assert rows[3]["n_types"] == 1 and rows[3]["r_star"] is None
        import math

        want = math.floor(2.0 / 7.0 * 1e6 + 0.5) / 1e6
        assert all(r["p_unseen"] == want for r in rows.values())
        # mass shares partition the token mass
        assert (
            abs(sum(r["mass_share"] for r in rows.values()) - 1.0) < 1e-5
        )

    def test_no_singletons_zero_unseen_mass(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            good_turing,
        )

        docs = spark.createDataFrame(
            [(1, "x x y y")], "doc_id long, text string"
        )
        rows = good_turing(docs).collect()
        assert all(r["p_unseen"] == 0.0 for r in rows)


class TestBpeTrainBatched:
    """Round-11 batched trainer (VERDICT r10 item 6): up to batch_k
    symbol-disjoint merges per round — the scalable approximation for
    realistic merge budgets."""

    def test_batch_k1_equals_exact_trainer(self, spark):
        """batch_k=1 keeps exactly the exact trainer's winner each
        round: identical merge sequence, counts, and early stop."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            bpe_train_merges,
            bpe_train_merges_batched,
        )

        docs = spark.createDataFrame(
            [(1, "merge merge merge term term mer"),
             (2, "merge term banana banana")],
            "doc_id long, text string",
        )
        exact = [
            (r["round"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train_merges(docs, n_merges=6).collect()
        ]
        batched = [
            (r["round"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train_merges_batched(
                docs, n_rounds=6, batch_k=1
            ).collect()
        ]
        assert batched == exact
        assert len(exact) == 6

    def test_greedy_excludes_symbol_sharing_candidate(self, spark):
        """Candidates (a,b)x10, (b,c)x8, (d,e)x6 with batch_k=3:
        (b,c) shares 'b' with the rank-1 kept pair and is skipped;
        (d,e) is disjoint and lands at rank 2 of the KEPT batch."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            bpe_train_merges_batched,
        )

        text = " ".join(["ab"] * 10 + ["bc"] * 8 + ["de"] * 6)
        docs = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        rows = [
            (r["round"], r["rank"], r["left"], r["right"],
             r["pair_count"])
            for r in bpe_train_merges_batched(
                docs, n_rounds=1, batch_k=3
            ).collect()
        ]
        assert rows == [(1, 1, "a", "b", 10), (1, 2, "d", "e", 6)]

    def test_batched_rewrite_is_left_to_right_and_chains_rounds(
        self, spark
    ):
        """'aaab aaab ab' with batch_k=2: every round's rank-2
        candidate shares a symbol with the kept winner ((a,b) shares
        'a' in round 1; (aa,a) shares 'a' in round 2), so each batch
        keeps exactly one merge and the batched trainer reproduces the
        exact trainer's full chained sequence — including round 3's
        (aa,ab) merge built from rounds 1+2's symbols, which proves
        the rewrite really applied between rounds."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            bpe_train_merges_batched,
        )

        docs = spark.createDataFrame(
            [(1, "aaab aaab ab")], "doc_id long, text string"
        )
        rows = [
            (r["round"], r["rank"], r["left"], r["right"],
             r["pair_count"])
            for r in bpe_train_merges_batched(
                docs, n_rounds=3, batch_k=2
            ).collect()
        ]
        assert rows == [
            (1, 1, "a", "a", 4),
            (2, 1, "a", "b", 3),
            (3, 1, "aa", "ab", 2),
        ]

    def test_pair_exhaustion_emits_nothing_and_validates_args(
        self, spark
    ):
        import pytest

        from big_data_project_datapipeline_spark.functions.corpus import (
            bpe_train_merges_batched,
        )

        docs = spark.createDataFrame(
            [(1, "ab ab")], "doc_id long, text string"
        )
        rows = bpe_train_merges_batched(
            docs, n_rounds=3, batch_k=4
        ).collect()
        # round 1 learns (a,b); rounds 2-3 have no pairs left
        assert [(r["round"], r["left"], r["right"]) for r in rows] == [
            (1, "a", "b")
        ]
        with pytest.raises(ValueError, match="batch_k"):
            bpe_train_merges_batched(docs, n_rounds=0)


class TestTokenGini:
    def test_hand_computed_gini_and_top_share(self, spark):
        """counts a:1 b:1 c:2 -> asc ranks a1 b2 c3; S=1+2+6=9, T=4,
        n=3: gini = (2*9 - 4*4)/(3*4) = 1/6; top ceil(3/10)=1 type
        (c) holds 2/4 of the mass."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            token_gini,
        )

        docs = spark.createDataFrame(
            [(1, "c c a b", "s")], "doc_id long, text string, source string"
        )
        r = token_gini(docs).first()
        assert (r["n_types"], r["n_tokens"]) == (3, 4)
        assert r["gini"] == 0.166667  # floor(1/6*1e6+0.5)/1e6
        assert r["top_decile_share"] == 0.5

    def test_uniform_counts_gini_zero(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            token_gini,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d", "s"), (2, "a b c d", "s")],
            "doc_id long, text string, source string",
        )
        r = token_gini(docs).first()
        assert r["gini"] == 0.0
        # ceil(4/10)=1 of 4 equal types holds exactly 1/4
        assert r["top_decile_share"] == 0.25

    def test_extreme_concentration_approaches_limit(self, spark):
        """one type with 96 of 100 tokens + 4 singletons: gini nears
        its n-type ceiling (n-1)/n and the top decile holds ~all."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            token_gini,
        )

        text = " ".join(["z"] * 96 + ["a", "b", "c", "d"])
        docs = spark.createDataFrame(
            [(1, text, "s")], "doc_id long, text string, source string"
        )
        r = token_gini(docs).first()
        # ranks a1 b2 c3 d4 z5; S=1+2+3+4+480=490, T=100, n=5
        # gini = (980-600)/500 = 0.76; top ceil(5/10)=1 type share .96
        assert r["gini"] == 0.76
        assert r["top_decile_share"] == 0.96


class TestVocabCoverage:
    def test_hand_computed_budgets(self, spark):
        """counts z:5 a:2 b:1 (T=8): top-1 covers 5/8, top-2 covers
        7/8, top-100 covers all with n_types_used clamped to 3."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            vocab_coverage,
        )

        docs = spark.createDataFrame(
            [(1, "z z z z z a a b")], "doc_id long, text string"
        )
        rows = {
            r["budget"]: r
            for r in vocab_coverage(
                docs, budgets=(1, 2, 100)
            ).collect()
        }
        assert rows[1]["covered_tokens"] == 5
        assert rows[1]["coverage"] == 0.625
        assert rows[2]["covered_tokens"] == 7
        assert rows[2]["coverage"] == 0.875
        assert rows[100]["n_types_used"] == 3
        assert rows[100]["coverage"] == 1.0

    def test_tie_break_is_token_ascending(self, spark):
        """'b' and 'a' both x2: top-1 takes 'a' (count desc, token
        asc) — deterministic, engine-reproducible."""
        import pytest

        from big_data_project_datapipeline_spark.functions.corpus import (
            vocab_coverage,
        )

        docs = spark.createDataFrame(
            [(1, "b a b a c")], "doc_id long, text string"
        )
        r = {
            x["budget"]: x
            for x in vocab_coverage(docs, budgets=(1,)).collect()
        }[1]
        assert r["covered_tokens"] == 2  # 'a', never 'c'
        with pytest.raises(ValueError, match="budgets"):
            vocab_coverage(docs, budgets=(0,))

    def test_duplicate_budgets_rejected(self, spark):
        """duplicate budgets would alias two identical __cov_{k}
        columns in one agg (ambiguous-column AnalysisException
        downstream) — rejected up front instead (ADVICE r11)."""
        import pytest

        from big_data_project_datapipeline_spark.functions.corpus import (
            vocab_coverage,
        )

        docs = spark.createDataFrame(
            [(1, "a b")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="distinct"):
            vocab_coverage(docs, budgets=(100, 100))

    def test_empty_corpus_yields_empty_frame(self, spark):
        """zero tokens → EMPTY result frame (not one all-null row per
        budget) — the empty-input surface of the other corpus
        operators (ADVICE r11)."""
        from big_data_project_datapipeline_spark.functions.corpus import (
            vocab_coverage,
        )

        docs = spark.createDataFrame(
            [], "doc_id long, text string"
        )
        out = vocab_coverage(docs, budgets=(10, 100))
        assert out.count() == 0
        assert out.columns == [
            "budget", "n_types_used", "covered_tokens", "coverage"
        ]


class TestKneserNeyBigram:
    def _model(self, spark, text):
        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_bigram,
        )

        docs = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        return {
            (r["w1"], r["w2"]): r
            for r in kneser_ney_bigram(docs).collect()
        }

    def test_hand_computed_probabilities(self, spark):
        """'a b a b a c': bigrams (a,b)x2 (b,a)x2 (a,c)x1; c(a)=3,
        N1+(a,.)=2; P_cont(b)=P_cont(a)=P_cont(c)=1/3 (each completes
        one context type of 3 bigram types). P_KN(b|a) =
        (2-.75)/3 + .75*2/3 * 1/3 = 0.41666... + 0.16666... = 0.583333...
        P_KN(c|a) = .25/3 + 1/6 = 0.25."""
        import math

        m = self._model(spark, "a b a b a c")
        q9 = lambda x: math.floor(x * 1e9 + 0.5) / 1e9  # noqa: E731
        ab = m[("a", "b")]
        assert (ab["c12"], ab["c1"], ab["fanout"]) == (2, 3, 2)
        assert ab["p_cont"] == q9(1 / 3)
        assert ab["lambda_w1"] == q9(0.75 * 2 / 3)
        assert ab["p_kn"] == q9((2 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3))
        ac = m[("a", "c")]
        assert ac["p_kn"] == q9((1 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3))

    def test_full_vocab_normalization(self, spark):
        """For every context w1: sum over the WHOLE vocab of P_KN —
        observed rows' p_kn plus the backoff lambda*P_cont for unseen
        pairs — equals 1 (the discounted mass exactly funds the
        continuation redistribution)."""
        import pytest as _pt

        m = self._model(spark, "a b a b a c b c a")
        p_cont = {}
        lam = {}
        for (w1, w2), r in m.items():
            p_cont[w2] = r["p_cont"]
            lam[w1] = r["lambda_w1"]
        # continuation prior is itself a distribution over seen w2s
        assert sum(p_cont.values()) == _pt.approx(1.0, abs=1e-6)
        contexts = {w1 for (w1, _) in m}
        vocab = set(p_cont)
        for w1 in contexts:
            s = 0.0
            for w2 in vocab:
                if (w1, w2) in m:
                    s += m[(w1, w2)]["p_kn"]
                else:
                    s += lam[w1] * p_cont[w2]
            assert s == _pt.approx(1.0, abs=1e-6), w1

    def test_discount_validation(self, spark):
        import pytest

        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_bigram,
        )

        docs = spark.createDataFrame(
            [(1, "a b")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="discount"):
            kneser_ney_bigram(docs, discount=1.5)


class TestKneserNeyDocScores:
    def test_hand_computed_single_doc(self, spark):
        """'a b a b a c': avg = (2 ln P(b|a) + 2 ln P(a|b) +
        ln P(c|a)) / 5 over the quantized model values."""
        import math

        import pytest as _pt

        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_doc_scores,
        )

        docs = spark.createDataFrame(
            [(1, "a b a b a c")], "doc_id long, text string"
        )
        r = kneser_ney_doc_scores(docs).first()
        q9 = lambda x: math.floor(x * 1e9 + 0.5) / 1e9  # noqa: E731
        p_ba = q9((2 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3))
        p_ab = q9((2 - 0.75) / 2 + (0.75 * 1 / 2) * (1 / 3))
        p_ca = q9((1 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3))
        avg = (
            2 * math.log(p_ba) + 2 * math.log(p_ab) + math.log(p_ca)
        ) / 5
        assert r["n_pairs"] == 5
        assert r["avg_logprob"] == _pt.approx(round(avg, 6), abs=1e-6)
        assert r["ppl"] == _pt.approx(math.exp(-avg), abs=1e-5)

    def test_short_docs_emit_no_row_and_salad_scores_worse(self, spark):
        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_doc_scores,
        )

        docs = spark.createDataFrame(
            [
                (1, "the cat sat on the mat"),
                (2, "the cat sat on the mat"),
                (3, "mat the on sat cat the"),  # same bag, shuffled
                (4, "solo"),                     # < 2 tokens: no row
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r for r in kneser_ney_doc_scores(docs).collect()
        }
        assert set(rows) == {1, 2, 3}
        assert rows[1]["ppl"] == rows[2]["ppl"]
        # the shuffled doc's bigrams are mostly hapax: higher perplexity
        assert rows[3]["ppl"] > rows[1]["ppl"]


class TestKneserNeyHeldOut:
    def _frames(self, spark, train_rows, score_rows):
        tr = spark.createDataFrame(train_rows, "doc_id long, text string")
        sc = spark.createDataFrame(score_rows, "doc_id long, text string")
        return tr, sc

    def test_hand_computed_backoff_branches(self, spark):
        """train 'a b a c': big ab/ba/ac (=1 each), ctx a(c1=2,f=2)
        b(1,1); cont a/b/c n1r=1; n1a=3 V=3 -> denom 7,
        smoothed cont 2/7 seen / 1/7 unseen.
        score doc 10 'a b z': (a,b) seen = 0.125 + 0.75*(2/7);
        (b,z) backoff = (0.75*1/1)*(1/7). doc 11 'z q': OOV context
        = 1/7. All floor-quantized at 9 before ln."""
        import math

        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_score_held_out,
        )

        tr, sc = self._frames(
            spark,
            [(1, "a b a c")],
            [(10, "a b z"), (11, "z q"), (12, "x")],
        )
        rows = {
            r["doc_id"]: r
            for r in kneser_ney_score_held_out(tr, sc).collect()
        }
        assert set(rows) == {10, 11}  # doc 12 (<2 tokens) emits none

        def q9(x):
            return math.floor(x * 1e9 + 0.5) / 1e9

        p_ab = q9(0.125 + 0.75 * (2 / 7))
        p_bz = q9((0.75 * 1 / 1) * (1 / 7))
        avg10 = (math.log(p_ab) + math.log(p_bz)) / 2
        assert rows[10]["n_pairs"] == 2 and rows[10]["n_backoff"] == 1
        assert rows[10]["avg_logprob"] == round(avg10, 6)
        assert rows[10]["ppl"] == round(math.exp(-avg10), 6)
        p_zq = q9(1 / 7)
        assert rows[11]["n_pairs"] == 1 and rows[11]["n_backoff"] == 1
        assert rows[11]["avg_logprob"] == round(math.log(p_zq), 6)

    def test_open_vocab_normalization(self, spark):
        """for the seen context 'a', P_KN over {a, b, c, UNK} sums to
        1 (quantization-tolerant): the discounted mass equals exactly
        what the smoothed continuation prior redistributes."""
        import math

        def q9(x):
            return math.floor(x * 1e9 + 0.5) / 1e9

        # model trained on 'a b a c' (see above); score docs that
        # enumerate context-a pairs: seen (a,b) (a,c), unseen (a,a),
        # and the UNK slot via (a,<unseen>)
        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_score_held_out,
        )

        tr = spark.createDataFrame(
            [(1, "a b a c")], "doc_id long, text string"
        )
        probs = []
        for i, w2 in enumerate(["a", "b", "c", "zz"]):
            sc = spark.createDataFrame(
                [(100 + i, f"a {w2}")], "doc_id long, text string"
            )
            r = kneser_ney_score_held_out(tr, sc).first()
            probs.append(math.exp(r["avg_logprob"]))
        # each prob was rounded at 6 after ln; allow that tolerance
        assert abs(sum(probs) - 1.0) < 1e-4, probs

    def test_backoff_scores_below_seen(self, spark):
        """a doc of observed bigrams must out-score (lower ppl) every
        same-length novelty doc — both the unseen-pairs-under-seen-
        contexts doc and the all-OOV doc, whose n_backoff counts flag
        them. (The two novelty classes do NOT order against each
        other in general: λ(w1)·P̃_cont can legitimately price below
        the OOV prior when the context barely backs off.)"""
        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_score_held_out,
        )

        tr = spark.createDataFrame(
            [(1, "a b a b a c a c")], "doc_id long, text string"
        )
        sc = spark.createDataFrame(
            [(10, "a b a b"), (11, "b c b c"), (12, "q z q z")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in kneser_ney_score_held_out(tr, sc).collect()
        }
        assert rows[10]["ppl"] < rows[11]["ppl"], rows
        assert rows[10]["ppl"] < rows[12]["ppl"], rows
        assert rows[10]["n_backoff"] == 0
        assert rows[11]["n_backoff"] == 3
        assert rows[12]["n_backoff"] == 3

    def test_discount_validation(self, spark):
        import pytest

        from big_data_project_datapipeline_spark.functions.corpus import (
            kneser_ney_score_held_out,
        )

        tr = spark.createDataFrame(
            [(1, "a b")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="discount"):
            kneser_ney_score_held_out(tr, tr, discount=1.0)
