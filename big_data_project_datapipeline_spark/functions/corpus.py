"""Corpus-level statistics for pretraining-data curation: n-gram language
models, token-budget sampling, Zipf rank-frequency fits, per-document
lexical diversity, and source-profile similarity.

These complement the per-document quality metrics in `functions.text`
(ratios, langID, fingerprints) with the *corpus-shaped* questions a data
team asks before mixing sources into a training run: what does the
bigram distribution look like, how much of each source fits a token
budget, does the token distribution follow Zipf, how lexically diverse
is each document, and which sources look alike.

Cross-engine determinism devices (shared with the rest of the repo):

- Sampling order comes from md5(doc_id) (the q47/q63 bucket device) —
  reproducible across runs and engines, no RNG state.
- Float reductions that feed the bit-exact oracle gate go through the
  "round-then-decimal" device proven by q97's trend OLS: per-row float
  values (ln/log2) are rounded to 9 decimals and cast to decimal before
  summation, so the aggregate is order-independent and exact; only the
  final O(1) scalar arithmetic runs in double, with an expression tree
  the oracle SQL mirrors literally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import text as TX

__all__ = [
    "LN2",
    "bigram_model",
    "token_budget_sample",
    "token_counts",
    "zipf_fit",
    "zipf_fit_from_counts",
    "token_diversity",
    "oov_rate",
    "source_profile_similarity",
    "dsir_importance",
    "dsir_bucket_counts",
    "dsir_weights_from_counts",
    "dsir_score_docs",
    "bigram_logprob_scores",
    "default_hash_weights",
    "hashed_logit_score",
    "temperature_mix_weights",
    "bpe_pair_stats",
    "token_drift",
    "weighted_sample",
]

# Embedded as a literal on BOTH engines (Spark expression and oracle SQL)
# so the bits-conversion divisor is the identical double everywhere —
# never each engine's own log2/ln(2) (base-2 log is the one transcendental
# the two engines compute differently: ln is fdlibm/glibc-identical on
# every input the suite has hashed, log2 is not).
LN2 = 0.6931471805599453


def _md5_priority(c: Column) -> Column:
    """Deterministic pseudo-random priority: first 60 bits of md5 as a
    long (same device as the q47/q63 bucket split — engine-portable)."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def bigram_model(
    df: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """Corpus bigram language model head: top-`top_n` adjacent token
    pairs with their conditional probability P(w2 | w1).

    The denominator is the bigram-first count (sum of pair counts with
    the same w1), not the raw unigram count — this is the standard MLE
    normalization (doc-final tokens never start a bigram, so the raw
    unigram count would make the conditional distribution sum < 1).

    Scale shape: the token array is staged once per doc; pairs come from
    one arrays_zip of two slices (no self-join of exploded positions).
    Two shuffles: groupBy(w1, w2) with map-side combine, then a
    groupBy(w1) re-agg of the *already-collapsed* pair counts joined
    back on w1. Head words (the/of/...) are hot keys in that join — the
    pair-count frame is vocab-bounded, and AQE skew-join splits the hot
    w1 partitions; never broadcast the w1 totals (vocab is unbounded,
    hapax-heavy — same reasoning as tf_idf_top_terms)."""
    toks = TX.tokens(F.col(text_col))
    staged = df.select(toks.alias("__t")).filter(F.size("__t") >= 2)
    n = F.size("__t")
    pairs = staged.select(
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, n - 1).alias("w1"),
                F.slice("__t", 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    pair_counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("pair_count")
    )
    first_counts = pair_counts.groupBy("w1").agg(
        F.sum("pair_count").alias("first_count")
    )
    out = pair_counts.join(first_counts, "w1").select(
        "w1",
        "w2",
        "pair_count",
        "first_count",
        F.round(
            F.col("pair_count").cast("double") / F.col("first_count"), 6
        ).alias("cond_p"),
    )
    # TakeOrderedAndProject: per-partition top-N + driver merge (the q96
    # lesson — never a global row_number window for a head slice).
    return out.orderBy(F.desc("pair_count"), "w1", "w2").limit(top_n)


def token_budget_sample(
    df: DataFrame,
    budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-budget sampling: admit documents in deterministic
    md5-priority order until the source's cumulative token count would
    exceed `budget` (inclusive semantics: a doc is kept iff the running
    total *through it* is <= budget).

    This is the "give me ~N tokens per domain" step of assembling a
    training mix with hard per-source caps — reproducible across runs
    and engines because the admission order is md5(doc_id), not RNG.

    Scale shape: the per-source cumulative sum
    comes from operators/prefix.group_rank_frame (ONE range exchange)
    instead of a window partitioned by the LOW-cardinality source key
    — the window form serialized each source through one task, which
    is exactly the giant-source case a budget sampler exists for.
    Cumulative token counts are exact longs, so the admitted set is
    bit-identical to the window form."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    staged = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.size(TX.tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        _md5_priority(F.col(id_col)).alias("__pri"),
    )
    return (
        group_rank_frame(
            staged,
            ["source"],
            ["__pri", "doc_id"],
            group_rank_col=None,
            group_count_col=None,
            sum_cols=["n_tokens"],
        )
        .filter(F.col("n_tokens__gcum") <= budget)
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.col("n_tokens__gcum").alias("cum_tokens"),
        )
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus (token, cnt) frame — one explode + one map-side-combinable
    groupBy. This is also the MERGEABLE state unit for incremental
    corpus stats (counts are associative sums)."""
    tok = df.select(F.explode(TX.tokens(F.col(text_col))).alias("token"))
    return tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_ranks: int = 100
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus token distribution: OLS of
    ln(freq) on ln(rank) for the top-`top_ranks` tokens. A healthy
    natural-language corpus has slope near -1; synthetic or heavily
    templated text shows up as a flat or kinked head. Returns one row:
    (n_ranks, zipf_slope, zipf_intercept).

    Determinism: ln values are rounded to 9 decimals and accumulated as
    decimals (order-independent, exact — the q97 device); only the final
    closed-form slope/intercept arithmetic runs in double, in an
    expression order the oracle mirrors token-for-token.

    Scale shape: one explode + one map-side-combinable groupBy; the head
    slice is TakeOrderedAndProject (never a global sort); the rank
    window then covers <= top_ranks rows."""
    return zipf_fit_from_counts(
        token_counts(df, text_col), top_ranks=top_ranks
    )


def zipf_fit_from_counts(
    counts: DataFrame, top_ranks: int = 100
) -> DataFrame:
    """Zipf fit from a pre-aggregated (token, cnt) frame — the read path
    for an incrementally MAINTAINED count store (identical result to
    zipf_fit on the raw corpus, pinned by test)."""
    top = counts.orderBy(F.desc("cnt"), "token").limit(top_ranks)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cnt"), "token")),
    )
    dec = "decimal(18,9)"
    x = F.round(F.log(F.col("rank").cast("double")), 9).cast(dec)
    y = F.round(F.log(F.col("cnt").cast("double")), 9).cast(dec)
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    nd = F.col("n_ranks").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "n_ranks",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias(
            "zipf_intercept"
        ),
    )


def token_diversity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document lexical diversity: token count, distinct tokens,
    type-token ratio, and Shannon entropy (bits) of the within-document
    token distribution. Low-entropy / low-TTR documents are the
    boilerplate and keyword-stuffing that repetition filters (q58) catch
    at the n-gram level — this is the distribution-level sibling.

    H_bits = (ln(n) - (sum c*ln c) / n) / LN2 over within-doc token
    counts c — ln everywhere (the engine-portable transcendental; see
    LN2 above for why not log2), c*ln(c) terms rounded to 9 decimals and
    summed as decimals (order-independent — the q97 device), final
    arithmetic in double with an oracle-mirrored expression tree.

    Scale shape: explode -> groupBy(doc, token) -> groupBy(doc), both
    map-side combinable; never a per-row O(distinct^2) array expression
    (documents can be arbitrarily long — same reasoning as the Gopher
    repetition filters, text.py:332)."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    )
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    clog = F.round(
        F.col("c").cast("double") * F.log(F.col("c").cast("double")), 9
    ).cast("decimal(18,9)")
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(clog).cast("double").alias("__clog"),
    )
    nd = F.col("n_tokens").cast("double")
    entropy = (F.log(nd) - F.col("__clog") / nd) / F.lit(LN2)
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(F.col("n_distinct").cast("double") / nd, 6).alias("ttr"),
        F.round(entropy, 6).alias("entropy_bits"),
    )


def oov_rate(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary rate per group against the corpus' own top-
    `vocab_size` token vocabulary — the "does a fixed vocab cover this
    language/source" diagnostic that decides tokenizer retraining and
    per-group sampling budgets.

    Scale shape: token occurrences collapse to (group, token) counts
    FIRST (map-side combinable; the heavy explode is aggregated before
    any join), the vocab head is TakeOrderedAndProject, and membership
    is a broadcast left-semi-shaped join on the collapsed frame — the
    join touches distinct-token rows, never raw token occurrences."""
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    )
    counts = tok.groupBy("grp", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = (
        counts.groupBy("token")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.desc("tot"), "token")
        .limit(vocab_size)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    flagged = counts.join(F.broadcast(vocab), "token", "left")
    agg = flagged.groupBy("grp").agg(
        F.sum("c").alias("total_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), F.col("c")).otherwise(0))
        .alias("oov_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias(
            "oov_distinct"
        ),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "total_tokens",
        "oov_tokens",
        "distinct_tokens",
        "oov_distinct",
        F.round(
            F.col("oov_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("oov_rate"),
    )


def source_profile_similarity(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    vocab_size: int = 500,
) -> DataFrame:
    """Pairwise cosine similarity between per-source unigram profiles,
    restricted to the global top-`vocab_size` vocabulary — the "which
    domains look alike" diagnostic behind source-mix decisions (merge
    near-identical crawls, diversify the rest).

    Scale shape: profiles come from one explode + groupBy; the vocab
    prune (TakeOrderedAndProject head, broadcast semi-join) bounds every
    downstream frame to <= vocab_size rows per source, so the token-
    keyed self-join emits at most vocab_size * n_sources^2 pairs —
    bounded by construction, never an all-pairs blowup over raw vocab.
    Dot products and norms accumulate exact integer counts; only the
    final cosine runs in double (oracle-mirrored order)."""
    tok = df.select(
        F.col(source_col).alias("source"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    )
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = (
        counts.groupBy("token")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.desc("tot"), "token")
        .limit(vocab_size)
        .select("token")
    )
    pruned = counts.join(F.broadcast(vocab), "token")
    norms = pruned.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).alias("sq")
    )
    left = pruned.select(
        "token", F.col("source").alias("src_a"), F.col("c").alias("ca")
    )
    right = pruned.select(
        "token", F.col("source").alias("src_b"), F.col("c").alias("cb")
    )
    dots = (
        left.join(right, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(
        F.col("source").alias("src_a"), F.col("sq").alias("sq_a")
    )
    nb = norms.select(
        F.col("source").alias("src_b"), F.col("sq").alias("sq_b")
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("sq_a").cast("double"))
        * F.sqrt(F.col("sq_b").cast("double"))
    )
    return (
        dots.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select("src_a", "src_b", F.round(cos, 6).alias("cosine"))
    )


def _md5_bucket(c: Column, n_buckets: int) -> Column:
    """Engine-portable feature hash: first 60 bits of md5 mod n_buckets
    (the same md5 device as _md5_priority — both engines agree on md5 of
    the same string and on int64 arithmetic; never use Spark's hash()/
    xxhash64 here, DuckDB has no twin)."""
    return (
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("int")


def dsir_importance(
    df: DataFrame,
    target_source: str,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-unigram distribution is,
    log w(x) = sum_t [ ln p_target(b(t)) - ln p_raw(b(t)) ], with
    add-alpha smoothing over `n_buckets` hashed feature buckets. The
    target distribution is fit on the `target_source` slice, the raw
    distribution on everything else; raw docs with high log-weight are
    the ones importance resampling would promote into the mix.

    Returns (doc_id, n_tokens, log_weight, avg_log_weight) for every
    NON-target document (the candidates being selected from).

    Determinism: bucket ids come from md5 (engine-portable; see
    _md5_bucket), the per-bucket ln-ratio is computed once in double
    from exact integer counts + literal smoothing (ln is the portable
    transcendental — q62 precedent), and the per-doc sum accumulates
    c * ratio in DECIMAL so partition order cannot wiggle low bits;
    round(6) on the exposed surfaces.

    Scale shape: both distribution tables collapse to <= n_buckets rows
    via map-side-combinable groupBys, merge with a full outer join
    (coalesce-0: a bucket seen only on one side still gets its smoothed
    probability on the other), and the resulting weight table —
    bounded by n_buckets — is BROADCAST to the per-doc bucket counts.
    The heavy explode aggregates to (doc, bucket) before any join;
    nothing in the plan scales worse than one corpus tokenize + two
    bounded-table joins.

    Factored so the expensive half is a MERGEABLE aggregate: the
    (bucket, ct, cr) frame from dsir_bucket_counts is associative-sum
    state that can be folded across cron ticks; dsir_weights_from_counts
    + dsir_score_docs are the cheap read path over it."""
    counts = dsir_bucket_counts(
        df,
        target_source,
        n_buckets=n_buckets,
        source_col=source_col,
        text_col=text_col,
    )
    weights = dsir_weights_from_counts(counts, n_buckets, alpha=alpha)
    candidates = df.filter(F.col(source_col) != target_source)
    return dsir_score_docs(
        candidates,
        weights,
        n_buckets=n_buckets,
        id_col=id_col,
        text_col=text_col,
    )


def dsir_bucket_counts(
    df: DataFrame,
    target_source: str,
    n_buckets: int = 1024,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The mergeable state underlying DSIR weights: per hashed bucket,
    the target-slice token count (ct) and the raw-slice token count
    (cr), full-outer-merged with coalesce-0 (a bucket seen on only one
    side still needs its smoothed probability on the other). Counts are
    associative sums — fold daily deltas instead of re-exploding the
    corpus."""
    staged = df.select(
        (F.col(source_col) == target_source).alias("is_target"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    ).withColumn("bucket", _md5_bucket(F.col("token"), n_buckets))
    tgt = (
        staged.filter("is_target")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    raw = (
        staged.filter(~F.col("is_target"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    return tgt.join(raw, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
        F.coalesce("cr", F.lit(0)).cast("long").alias("cr"),
    )


def dsir_weights_from_counts(
    counts: DataFrame, n_buckets: int, alpha: float = 1.0
) -> DataFrame:
    """(bucket, w) weight table from a (bucket, ct, cr) count frame:
    w = ln p_target - ln p_raw with add-alpha smoothing. The table is
    COMPLETE over all n_buckets rows (a range frame left-joins the
    counts), so scoring a candidate batch whose tokens hash to buckets
    the count store has never seen still applies the smoothed
    probability instead of silently dropping the tokens in the scoring
    join — the incremental-store case review caught. Totals arrive via
    a 1-row broadcast cross join (no driver action)."""
    spark = counts.sparkSession
    all_b = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    full = all_b.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    tot = full.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    merged = full.crossJoin(F.broadcast(tot))
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * n_buckets)
    ratio = F.log(
        (F.col("ct").cast("double") + a)
        / (F.col("tt").cast("double") + ab)
    ) - F.log(
        (F.col("cr").cast("double") + a)
        / (F.col("tr").cast("double") + ab)
    )
    return merged.select("bucket", ratio.alias("w"))


def dsir_score_docs(
    candidates: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score candidate docs against a (bucket, w) DSIR weight table:
    per-doc sum / mean of bucket log-ratios. The weight table is
    broadcast (bounded by n_buckets); per-doc bucket counts collapse
    map-side before the join; c*w accumulates in DECIMAL (q62
    device)."""
    doc_b = (
        candidates.select(
            F.col(id_col).alias("doc_id"),
            F.explode(TX.tokens(F.col(text_col))).alias("token"),
        )
        .withColumn("bucket", _md5_bucket(F.col("token"), n_buckets))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = doc_b.join(F.broadcast(weights), "bucket").withColumn(
        "lw",
        (F.col("c").cast("double") * F.col("w")).cast("decimal(28,12)"),
    )
    per = scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum("lw").cast("double").alias("__lw"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        F.round("__lw", 6).alias("log_weight"),
        F.round(
            F.col("__lw") / F.col("n_tokens").cast("double"), 6
        ).alias("avg_log_weight"),
    )


def bigram_logprob_scores(
    df: DataFrame,
    k: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document bigram LM scoring with add-k smoothing — the
    2-gram sibling of the CCNet unigram filter (text.py
    unigram_logprob_scores): avg ln p(w2|w1) and perplexity under
    p(w2|w1) = (c(w1,w2) + k) / (c(w1,*) + k*V), V = corpus unigram
    vocabulary size. Bigram perplexity separates word-salad from
    phrase-shaped text in a way unigram scores cannot (identical
    unigram bags score identically there regardless of order).

    Fit on the corpus itself so the op is self-contained and
    oracle-checkable; in production the (w1, w2, logp) table is an
    external KenLM dump joined exactly the same way. Docs with < 2
    tokens emit no row (they have no bigrams).

    Scale shape: per-doc pairs collapse to (doc, w1, w2, c) with
    map-side combine before the model join; the model join shuffles on
    (w1, w2) and is deliberately NOT broadcast (bigram vocab is
    hapax-heavy and unbounded — the tf_idf/bigram_model reasoning);
    w1 totals join the vocab-bounded pair-count frame, where AQE
    skew-join absorbs hot head words. Decimal accumulation of c*ln p
    (q62 device), round(6) on exposed surfaces.

    Cost note (review): the exact vocabulary size V costs a SECOND
    corpus tokenize (the pair staging cannot supply doc-final tokens of
    1-token docs). At 100 TB read V off an incrementally maintained
    token-count store (:func:`token_counts` folded per tick) instead
    of recomputing it here."""
    toks = TX.tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("__t")
    ).filter(F.size("__t") >= 2)
    n = F.size("__t")
    doc_pairs = (
        staged.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("__t", 1, n - 1).alias("w1"),
                    F.slice("__t", 2, n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair_counts = doc_pairs.groupBy("w1", "w2").agg(
        F.sum("c").alias("c12")
    )
    first_counts = pair_counts.groupBy("w1").agg(
        F.sum("c12").alias("c1")
    )
    vocab_n = (
        df.select(F.explode(toks).alias("token"))
        .agg(F.count_distinct("token").alias("v"))
    )
    kl = F.lit(float(k))
    model = (
        pair_counts.join(first_counts, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c12").cast("double") + kl)
                / (
                    F.col("c1").cast("double")
                    + kl * F.col("v").cast("double")
                )
            ).alias("logp"),
        )
    )
    scored = doc_pairs.join(model, ["w1", "w2"]).withColumn(
        "lp",
        (F.col("c").cast("double") * F.col("logp")).cast("decimal(28,12)"),
    )
    per = scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_pairs"),
        (F.sum("lp").cast("double") / F.sum("c")).alias("__avg"),
    )
    return per.select(
        "doc_id",
        "n_pairs",
        F.round("__avg", 6).alias("avg_logprob"),
        F.round(F.exp(-F.col("__avg")), 6).alias("ppl"),
    )


def default_hash_weights(df: DataFrame, n_buckets: int = 1024) -> DataFrame:
    """Deterministic stand-in weight table for hashed_logit_score —
    (bucket, weight) with weight = ((bucket * 2654435761) % 2000) / 1000
    - 1.0, a Knuth-multiplicative pseudo-pattern in [-1, 1) computed in
    exact int64 arithmetic (engine-portable; a real pipeline loads the
    trained model's weight vector here instead). Built FROM a DataFrame
    (any input, used only for its session) via spark.range."""
    spark = df.sparkSession
    return spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        (
            ((F.col("id") * F.lit(2654435761)) % 2000).cast("double")
            / 1000.0
            - 1.0
        ).alias("weight"),
    )


def hashed_logit_score(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    missing_weight: float = 0.0,
) -> DataFrame:
    """fastText-style linear quality classifier over hashed unigram
    features: z = bias + mean_t weight[b(t)], p = sigmoid(z). This is
    the scoring half of the GPT-3/LLaMA "quality classifier" curation
    step — the trained weight vector arrives as a (bucket, weight)
    table (see default_hash_weights for the deterministic test stand-in)
    and scoring is pure relational algebra: no model server in the
    loop, the classifier IS a broadcast join.

    Scale shape: explode collapses to (doc, bucket, c) with map-side
    combine; `weights` is bounded by n_buckets and broadcast; the
    per-doc mean accumulates c * weight in DECIMAL (order-independent).
    sigmoid runs on the unrounded mean, round(6) on both exposed
    surfaces (the q62 exp precedent)."""
    doc_b = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(TX.tokens(F.col(text_col))).alias("token"),
        )
        .withColumn("bucket", _md5_bucket(F.col("token"), n_buckets))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # LEFT join: a sparse trained weight table (buckets with no
    # training signal) must not silently drop tokens or whole docs —
    # unseen buckets contribute ``missing_weight`` (fastText's OOV-
    # bucket-is-zero convention).
    scored = doc_b.join(F.broadcast(weights), "bucket", "left").withColumn(
        "cw",
        (
            F.col("c").cast("double")
            * F.coalesce(F.col("weight"), F.lit(float(missing_weight)))
        ).cast("decimal(28,12)"),
    )
    per = scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum("cw").cast("double").alias("__sw"),
    )
    z = F.lit(float(bias)) + F.col("__sw") / F.col("n_tokens").cast(
        "double"
    )
    return per.select(
        "doc_id",
        "n_tokens",
        F.round(z, 6).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("prob"),
    )


def temperature_mix_weights(
    df: DataFrame,
    alpha: float = 0.7,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based source re-weighting (the multilingual-mixing
    device of XLM-R / mT5): q_s ∝ p_s^alpha with p_s = source token
    share. alpha < 1 flattens the mix — upweights tail sources,
    downweights the head; alpha = 1 keeps natural proportions. Returns
    per source: token count, natural share p_orig, tempered share
    p_temp, and the upsample factor q_s / p_s a sampler applies.

    Determinism: p^alpha is computed as exp(alpha·ln p) with the SAME
    expression on both engines (never pow() — engines' pow need not
    bit-match ln/exp chains), each tempered mass is rounded to 9
    decimals and summed as DECIMAL for the normalizer (q97 device), and
    final shares round(6).

    Scale shape: per-doc token counts come from one map-only size()
    (no explode — the count, not the tokens, is needed), collapse to
    one row per source, and every subsequent step runs on that
    O(n_sources) frame with 1-row broadcast totals."""
    stats = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(TX.tokens(F.col(text_col))).cast("long").alias("__nt"),
        )
        .groupBy("source")
        .agg(F.sum("__nt").alias("n_tokens"))
    )
    tot = stats.agg(F.sum("n_tokens").alias("__N"))
    p = F.col("n_tokens").cast("double") / F.col("__N").cast("double")
    with_p = stats.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", p.alias("__p")
    )
    q_raw = F.round(
        F.exp(F.lit(float(alpha)) * F.log(F.col("__p"))), 9
    ).cast("decimal(18,9)")
    with_q = with_p.select("source", "n_tokens", "__p", q_raw.alias("__q"))
    qtot = with_q.agg(F.sum("__q").cast("double").alias("__qt"))
    out = with_q.crossJoin(F.broadcast(qtot))
    p_temp = F.col("__q").cast("double") / F.col("__qt")
    return out.select(
        "source",
        "n_tokens",
        F.round("__p", 6).alias("p_orig"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / F.col("__p"), 6).alias("upsample_factor"),
    )


def bpe_pair_stats(
    df: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """First-iteration BPE merge statistics (Sennrich et al. 2016):
    the frequency-weighted adjacent-symbol-pair counts over the WORD
    TABLE that pick the next merge — the counting kernel of tokenizer
    training. Symbols here are characters (iteration 0); a trainer
    loops this op, applying the top merge and re-counting.

    Returns the top-``top_n`` (s1, s2, pair_count) by descending count
    (deterministic (s1, s2) tie-break).

    Scale shape: the heavy corpus pass is the existing token_counts
    aggregate; pair counting then runs on the DISTINCT word table
    weighted by frequency — Heaps' law makes that vocab-bounded, orders
    of magnitude smaller than the corpus. Pairs come from one
    arrays_zip of two slices of a staged char array (never a position
    self-join), one map-side-combinable groupBy, and a
    TakeOrderedAndProject head."""
    wc = token_counts(df, text_col)
    chars = F.split(F.col("token"), "")
    staged = wc.select(
        "cnt", chars.alias("__c")
    ).filter(F.size("__c") >= 2)
    n = F.size("__c")
    pairs = staged.select(
        "cnt",
        F.explode(
            F.arrays_zip(
                F.slice("__c", 1, n - 1).alias("s1"),
                F.slice("__c", 2, n - 1).alias("s2"),
            )
        ).alias("p"),
    ).select(
        F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"), "cnt"
    )
    out = pairs.groupBy("s1", "s2").agg(
        F.sum("cnt").cast("long").alias("pair_count")
    )
    return out.orderBy(F.desc("pair_count"), "s1", "s2").limit(top_n)


def token_drift(
    df: DataFrame,
    new_col: str,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source distribution drift between two corpus snapshots (the
    monitoring op a data team runs when a new crawl lands): add-alpha
    smoothed KL(old‖new), KL(new‖old), and their sum (Jeffreys
    divergence) over each source's union vocabulary. ``new_col`` names
    a boolean column marking the new snapshot's rows. A drifting
    source — topic shift, spam influx, scraper breakage — shows up as
    Jeffreys divergence far above its peers.

    Determinism: probabilities come from exact integer counts +
    literal smoothing; each token's KL term is computed in double,
    rounded to 9 decimals and summed as DECIMAL (the q97 device);
    exposed surfaces round(6).

    Scale shape: one explode collapses to (source, token) rows with
    BOTH snapshot counts as conditional sums (map-side combinable);
    per-source totals/vocab sizes are an O(n_sources) frame broadcast
    back; the KL reduction is one more map-side-combinable aggregate.
    Nothing exceeds the cost of a single corpus tokenize."""
    tok = df.select(
        F.col(source_col).alias("source"),
        F.col(new_col).alias("__new"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    )
    counts = tok.groupBy("source", "token").agg(
        F.sum(F.when(~F.col("__new"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("__new"), 1).otherwise(0)).alias("cb"),
    )
    totals = counts.groupBy("source").agg(
        F.sum("ca").alias("ta"),
        F.sum("cb").alias("tb"),
        F.count(F.lit(1)).alias("v"),
    )
    a = F.lit(float(alpha))
    j = counts.join(F.broadcast(totals), "source")
    pa = (F.col("ca").cast("double") + a) / (
        F.col("ta").cast("double") + a * F.col("v").cast("double")
    )
    pb = (F.col("cb").cast("double") + a) / (
        F.col("tb").cast("double") + a * F.col("v").cast("double")
    )
    term_ab = F.round(pa * (F.log(pa) - F.log(pb)), 9).cast("decimal(18,9)")
    term_ba = F.round(pb * (F.log(pb) - F.log(pa)), 9).cast("decimal(18,9)")
    agg = j.groupBy("source").agg(
        F.sum("ca").cast("long").alias("n_tokens_old"),
        F.sum("cb").cast("long").alias("n_tokens_new"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(term_ab).cast("double").alias("__kl_ab"),
        F.sum(term_ba).cast("double").alias("__kl_ba"),
    )
    return agg.select(
        "source",
        "n_tokens_old",
        "n_tokens_new",
        "vocab_size",
        F.round("__kl_ab", 6).alias("kl_old_new"),
        F.round("__kl_ba", 6).alias("kl_new_old"),
        F.round(F.col("__kl_ab") + F.col("__kl_ba"), 6).alias("jeffreys"),
    )


def weighted_sample(
    df: DataFrame,
    k: int = 10,
    weight_col: str | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group (Efraimidis &
    Spirakis 2006 exponential-key reservoir — the standard distributed
    one-pass device): each row gets key u^(1/w) for u ~ Uniform(0,1],
    and the k largest keys per group are an exact w-weighted sample.
    Here u is DETERMINISTIC — (md5_60bits(id)+1) / 2^60, a dyadic
    rational both engines compute bit-identically — so the sample is
    reproducible across runs and engines with no RNG state (the q47
    md5 device applied to reservoir sampling). Default weight =
    document token count (length-proportional sampling); pass
    weight_col to override.

    Ranking uses ln(u)/w, monotone-equivalent to u^(1/w) (ln u < 0,
    w > 0) and cheaper; ln is the engine-portable transcendental. Ties
    break on id.

    Scale shape: map-only key computation, then one per-group top-k
    window. The low-cardinality group key is NOT a funnel here
    (deliberately kept as a window):
    Catalyst's WindowGroupLimit rewrites the ``row_number <= k``
    filter into a map-side PARTIAL top-k before the exchange
    (verified in-plan), so the shuffle and the per-group final sort
    see at most k·partitions rows per group — strictly cheaper than a
    range re-exchange of the full frame."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.size(TX.tokens(F.col(text_col))).cast("double")
    )
    two60 = float(1 << 60)
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(two60)
    staged = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("id"),
            w.alias("__w"),
            u.alias("__u"),
        )
        .filter(F.col("__w") > 0)
        .withColumn("__key", F.log("__u") / F.col("__w"))
    )
    win = Window.partitionBy("grp").orderBy(
        F.desc("__key"), F.asc("id")
    )
    return (
        staged.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("grp").alias(group_col),
            F.col("id").alias(id_col),
            # default weight (token count) is integral -> long; a
            # user-supplied weight column keeps its fractional values
            (
                F.col("__w").cast("long")
                if weight_col is None
                else F.col("__w")
            ).alias("weight"),
            F.round("__key", 6).alias("es_key"),
            F.col("__rn").alias("sample_rank"),
        )
    )


def heaps_law(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(N) = K·N^beta over the corpus
    read in ``id_col`` order: per-doc checkpoints of the cumulative
    token count N and cumulative distinct-type count V, with the
    log-log OLS fit (heaps_beta, heaps_k) attached as constant columns.
    Natural language sits near beta ≈ 0.4–0.6; templated/synthetic text
    shows up as a kinked or early-saturating curve (the growth-side
    sibling of the q103 Zipf head check).

    Relational device: "types seen so far" needs NO stateful scan — a
    type's first occurrence is min(doc_id) over its postings, so
    per-doc new-type counts are one groupBy(token) → groupBy(first_doc)
    pair, and both cumulative curves are one ordered window over the
    already-collapsed O(docs) per-doc frame. Docs with zero tokens
    contribute nothing and emit no checkpoint (explicit empty-text
    story; the oracle mirrors by deriving docs from the exploded
    tokens).

    Determinism/parity: cum_tokens/cum_types are exact integers; the
    OLS accumulates round(ln·, 9)-then-decimal terms (the q103 device)
    and only the final closed-form slope/intercept runs in double, in
    an expression order the oracle mirrors token-for-token.

    Scale shape: explode → two
    map-side-combinable groupBys; both cumulative curves come from
    operators.prefix.partitioned_prefix — range repartition on doc_id,
    per-partition running sums, broadcast O(partitions) offsets — so
    no single task ever materializes the whole O(docs) curve (exact
    long sums reassociate bit-identically; oracle unchanged). The fit
    itself is one O(1)-output aggregate over exact decimal moments.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    firsts = tok.groupBy("token").agg(F.min("doc_id").alias("doc_id"))
    new_types = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("__new")
    )
    base = per_doc.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("__new"), F.lit(0)).alias("__new"),
    )
    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )
    from big_data_project_datapipeline_spark.operators.prefix import (
        partitioned_prefix,
    )

    # The curve feeds both the OLS moment aggregate and the output
    # frame — persist it so the explode + groupBys + prefix passes run
    # once (prefix.py cost contract).
    curve = partitioned_prefix(
        base, ["doc_id"], sum_cols=["n_tokens", "__new"]
    ).select(
        "doc_id",
        F.col("n_tokens__cum").cast("long").alias("cum_tokens"),
        F.col("__new__cum").cast("long").alias("cum_types"),
    ).persist()
    dec = "decimal(18,9)"
    x = F.round(F.log(F.col("cum_tokens").cast("double")), 9).cast(dec)
    y = F.round(F.log(F.col("cum_types").cast("double")), 9).cast(dec)
    m = curve.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(x * y).cast("double").alias("__sxy"),
    )
    nd = F.col("__n").cast("double")
    beta = (nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    fit = m.select(
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("__sy") - beta * F.col("__sx")) / nd), 6
        ).alias("heaps_k"),
    )
    return attach_cache_release(curve.crossJoin(F.broadcast(fit)), [curve])


def ngram_novelty(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word k-grams whose corpus-wide first occurrence (min doc_id) is
    this doc — the doc-granular "how much new text does this document
    contribute" diagnostic behind dedup-aware sampling (a doc full of
    previously-seen 8-grams is boilerplate/quotation even if no single
    pair-level duplicate fires). Complements q99 (which REMOVES
    repeated spans) and q100 (corpus-level coverage) with a per-doc
    keep/downweight signal.

    Same relational device as heaps_law: first occurrence = min(doc_id)
    over the gram's postings — no stateful corpus scan. Docs with fewer
    than k tokens have no k-grams and are excluded (explicit
    short-text story, mirrored by the oracle). novelty_rate divides
    n_novel by n_grams which is >= 1 by construction of the explode.

    Scale shape: one explode of distinct gram hashes (60-bit md5 — the
    portable digest), two map-side-combinable groupBys, one join on
    the collapsed O(docs) frames.
    """
    from big_data_project_datapipeline_spark.functions.dedup import (
        shingle_hash_set_from_tokens,
    )

    staged = df.select(
        F.col(id_col).alias("doc_id"), TX.tokens(F.col(text_col)).alias("__tk")
    )
    grams = staged.select(
        "doc_id",
        F.explode(shingle_hash_set_from_tokens(F.col("__tk"), k)).alias("g"),
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("doc_id"))
    novel = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("__novel")
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("__novel"), F.lit(0)).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
    )


def domain_cap_report(
    df: DataFrame,
    cap: int = 50,
    source_col: str = "source",
    id_col: str = "doc_id",
    length_col: str = "n_chars",
) -> DataFrame:
    """Per-source document-cap curation summary (the RefinedWeb /
    C4-style "no domain dominates the corpus" rule): keep at most
    ``cap`` docs per source, preferring longer documents with a
    deterministic (length DESC, id ASC) order, and report what the cap
    does to each source — docs kept/dropped and the share of the
    source's characters the kept set retains (the decision-support
    grain; the kept doc-id set itself is recoverable by re-running the
    same rank filter).

    Determinism/parity: the rank order (length DESC, id ASC) is
    unique; char sums accumulate as exact longs; the share is one IEEE
    double division rounded at the surface. NULL lengths count as 0
    (they still occupy a slot — the cap is about doc COUNT pressure).

    Scale shape: the per-source top-cap rank
    comes from operators/prefix.group_rank_frame over the NEGATED
    length (exact long negation reverses the order) — one range
    exchange instead of a window partitioned by the LOW-cardinality
    source key, which serialized each source through one task (and a
    heavy domain is exactly what a domain-cap rule exists for); then
    one map-side-combinable groupBy — never a driver-side per-domain
    loop.
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    staged = df.select(
        F.col(source_col).alias("src"),
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(length_col), F.lit(0)).cast("long").alias("len"),
    ).withColumn("__nlen", -F.col("len"))
    ranked = group_rank_frame(
        staged,
        ["src"],
        ["__nlen", "doc_id"],
        group_rank_col="__rk",
        group_count_col=None,
    )
    out = ranked.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__rk") <= cap, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum("len").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("__rk") <= cap, F.col("len")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )
    return out.select(
        F.col("src").alias(source_col),
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_dropped"),
        F.round(
            F.col("kept_chars").cast("double")
            / F.nullif(F.col("total_chars").cast("double"), F.lit(0.0)),
            6,
        ).alias("kept_char_share"),
    )


def class_log_odds(
    df: DataFrame,
    class_col: str = "lang",
    text_col: str = "text",
    top_k: int = 5,
) -> DataFrame:
    """Class-distinctive terms via weighted log-odds with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008) — the
    corpus-comparison statistic that fixes what TF-IDF and raw
    log-odds get wrong for rare words: the prior (here the corpus-wide
    token counts, α_w = g_w, α0 = N) shrinks low-evidence terms toward
    the corpus, and each score is z-standardized by its estimated
    variance 1/(y+α) + 1/(y_rest+α). Emits the top-``top_k``
    highest-z terms per class.

    Determinism/parity: all counts exact longs; the two ln() terms are
    the only transcendentals (ln is bit-identical cross-engine; the
    log2/log10 forms are NOT); ranking is on the round(6) z with a
    token tie-break so ULP noise cannot flip cross-engine order (the
    q57 device). Zero denominators (degenerate single-class corpora)
    are nullif-guarded into NULL z, which sorts last.

    Scale shape: one explode + map-side-combinable groupBy to the
    (class, token) frame; the global/token marginals are collapses of
    THAT frame joined back on token (vocab join stays a shuffle join —
    web-scale vocabularies are hapax-heavy, never broadcast); class
    totals and N are O(classes)/O(1) broadcasts; the top-k rank
    windows over per-class score frames.
    """
    toks = df.select(
        F.col(class_col).alias("cls"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    )
    cls_counts = toks.groupBy("cls", "token").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    glob = cls_counts.groupBy("token").agg(
        F.sum("y").cast("long").alias("g")
    )
    ctot = cls_counts.groupBy("cls").agg(
        F.sum("y").cast("long").alias("nc")
    )
    tot = cls_counts.agg(F.sum("y").cast("long").alias("N"))
    j = (
        cls_counts.join(glob, "token")
        .join(F.broadcast(ctot), "cls")
        .crossJoin(F.broadcast(tot))
    )
    y_d = F.col("y").cast("double")
    g_d = F.col("g").cast("double")
    nc_d = F.col("nc").cast("double")
    n_d = F.col("N").cast("double")
    rest_y_d = (F.col("g") - F.col("y")).cast("double")
    delta = F.log(
        (y_d + g_d) / F.nullif(nc_d + n_d - y_d - g_d, F.lit(0.0))
    ) - F.log(
        (rest_y_d + g_d)
        / F.nullif((n_d - nc_d) + n_d - rest_y_d - g_d, F.lit(0.0))
    )
    var = F.lit(1.0) / (y_d + g_d) + F.lit(1.0) / (rest_y_d + g_d)
    scored = j.select(
        "cls",
        "token",
        "y",
        F.round(delta / F.sqrt(var), 6).alias("z"),
    )
    # Per-class top-k stays a WINDOW on purpose: the
    # ``row_number <= top_k`` filter triggers Catalyst's
    # WindowGroupLimit map-side partial top-k, so the exchange and the
    # per-class final sort see at most top_k·partitions rows per class
    # — strictly cheaper than a range re-exchange of the full vocab
    # frame.
    w = Window.partitionBy("cls").orderBy(
        F.col("z").desc_nulls_last(), F.col("token").asc()
    )
    return (
        scored.select(
            "cls", "token", "y", "z", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= top_k)
        .select(
            F.col("cls").alias(class_col),
            "token",
            "y",
            "z",
            F.col("rk").cast("int").alias("rank"),
        )
    )


def negative_pairs(
    df: DataFrame,
    k: int = 3,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive
    training: every document gets exactly ``k`` pseudo-random negative
    partners, reproducible on any engine/partitioning with zero RNG
    state. Docs are md5-hashed into ``n_buckets`` blocks (the "batch"),
    ordered within the block by (hash, id) — a fixed pseudo-random
    shuffle — and each doc pairs with the j-th circular successor
    (position + j mod block size), the relational form of in-batch
    negatives.

    Determinism/parity: the 60-bit md5 prefix is the engine-portable
    hash; bucket and position arithmetic is exact integer; shifts are
    capped at the block size (j ≤ nb−1), which simultaneously removes
    self-pairs (j ≡ 0 mod nb) and DUPLICATE partners (j and j+nb alias
    the same successor — a repeated partner would
    silently overweight it in downstream contrastive training), so
    tiny blocks yield min(k, nb−1) DISTINCT negatives (documented
    edge; at corpus scale blocks are thousands of docs). Circular
    pairing is an equi-join on (bucket, position) — never a window
    lead with a lost tail.

    Scale shape: one map-only hash; block
    position + block size come from operators/prefix.group_rank_frame
    (one range exchange — ``n_buckets`` is a FIXED low cardinality, so
    the former per-bucket window serialized 1/n_buckets of the corpus
    through one task); one equi-join on (bucket, position) — the pair
    fan-out is exactly k×docs, never quadratic.
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = df.select(F.col(id_col).alias("id"), h.alias("__h")).select(
        "id", "__h", (F.col("__h") % F.lit(n_buckets)).cast("int").alias("bkt")
    )
    pos = group_rank_frame(
        base,
        ["bkt"],
        ["__h", "id"],
        group_rank_col="__rk1",
        group_count_col="nb",
    ).select(
        "id",
        "bkt",
        (F.col("__rk1") - F.lit(1)).cast("long").alias("pos"),
        F.col("nb").cast("long").alias("nb"),
    )
    anchors = (
        pos.select(
            "id",
            "bkt",
            "nb",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
            F.col("pos").alias("__apos"),
        )
        .filter(F.col("j") <= F.col("nb") - F.lit(1))
        .select(
            "id",
            "bkt",
            "j",
            ((F.col("__apos") + F.col("j")) % F.col("nb")).alias("__npos"),
            "__apos",
        )
    )
    partners = pos.select(
        F.col("bkt").alias("pbkt"),
        F.col("pos").alias("ppos"),
        F.col("id").alias("neg_id"),
    )
    return (
        anchors.join(
            partners,
            (F.col("bkt") == F.col("pbkt"))
            & (F.col("__npos") == F.col("ppos")),
        )
        .filter(F.col("__npos") != F.col("__apos"))
        .select(
            F.col("id").alias(id_col),
            F.col("j").cast("int").alias("rank"),
            F.col("neg_id").alias(f"neg_{id_col}"),
        )
    )


def positive_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contrastive POSITIVE pairs by split-document views (the
    inverse-cloze-task shape): each doc with ≥ 2 tokens yields one
    (anchor, positive) pair — the first and second halves of its token
    stream — fingerprinted and length-annotated; trainers join these
    with :func:`negative_pairs` partners for a complete contrastive
    dataset, all deterministic and engine-reproducible.

    Determinism/parity: the split point is integer ``n div 2``; views
    are re-joined with single spaces and md5-fingerprinted (payload
    text itself stays out of the frame — the fingerprint is the
    dedup/join key). Docs with < 2 tokens have no second view and are
    excluded (mirrored by the oracle).

    Scale shape: map-only (tokenize, slice, hash) — no shuffle at all.
    """
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        TX.tokens(F.col(text_col)).alias("__tk"),
    ).filter(F.size("__tk") >= 2)
    n = F.size("__tk")
    half = F.expr("size(__tk) div 2")
    a = F.slice(F.col("__tk"), F.lit(1), half)
    b = F.slice(F.col("__tk"), half + F.lit(1), n - half)
    return staged.select(
        "doc_id",
        F.size("__tk").cast("long").alias("n_tokens"),
        half.cast("long").alias("anchor_len"),
        (n - half).cast("long").alias("positive_len"),
        F.md5(F.concat_ws(" ", a)).alias("anchor_md5"),
        F.md5(F.concat_ws(" ", b)).alias("positive_md5"),
    )


def _scaled9_sum(expr: Column) -> Column:
    """Order-free 9-digit float fold, floor-based: sign(t)·floor(|t|·1e9
    + 0.5) is an integer-valued double identical in any engine; summed
    exactly as decimal(38,0), one closing /1e9. Same contract as the
    round-then-decimal device but it stays inside codegen — Spark's
    ``round(double, 9)`` routes every row through BigDecimal (the q215
    measurement: 9.9 s → 1.2 s per 9-term pass at sf0.1)."""
    scaled = (
        F.signum(expr) * F.floor(F.abs(expr) * F.lit(1e9) + F.lit(0.5))
    ).cast("long")
    return F.sum(scaled.cast("decimal(38,0)")).cast("double") / F.lit(1e9)


def naive_bayes_confusion(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Train a multinomial Naive Bayes text classifier IN the engine and
    score its training-set confusion matrix — supervised fit + argmax
    decode as pure relational algebra (the trained-model counterpart of
    q113's fixed-weight scorer and q130's rule heuristic): fit is two
    map-side-combinable aggregates (class priors, per-(class, token)
    counts), decode is one small-side join + one fold per (doc, class).

    score(d, c) = ln P(c) + Σ_t m_t·ln(cnt_{t,c} + α) − M_d·ln(T_c + αV)
    using the absent-token identity (a (token, class) pair with no row
    has cnt 0 → the ln α floor), so the model table stores only
    OBSERVED pairs and the decode's left join never materializes the
    vocab × classes cross product. Add-α smoothing; ties break to the
    smallest class label (min-struct argmax, engine-reproducible).
    Zero-token documents drop (no likelihood evidence; document count
    conservation therefore holds over tokenized docs only).

    Parity: counts are exact longs; each ln runs on an integer-valued
    double (engine-identical); per-token terms fold via the scaled-long
    device; the closing per-(doc, class) arithmetic is one mirrored
    expression. Output is the O(classes²) confusion frame
    (label, predicted, n_docs).

    Scale shape: the decode multiplies the token stream by |classes|
    (bounded, typically <= tens) through a constant-key broadcast join
    — never a vocab-sized expansion; the (class, token) model table
    joins on the token key (AQE-broadcast when small, shuffle-join for
    a 100 TB vocab, the q62 external-LM shape).
    """
    dt = nb_doc_tokens(df, text_col, label_col, id_col)
    classes, tc = nb_fit(df, text_col, label_col, id_col, doc_tokens=dt)
    return nb_confusion_from_model(dt, classes, tc, alpha=alpha).select(
        F.col("__y").alias(label_col), "predicted", "n_docs"
    )


def nb_doc_tokens(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, label, token, multiplicity) frame — the shared staging of
    the NB fit and decode (one explode + one map-side-combinable
    groupBy)."""
    toks = TX.tokens(F.col(text_col))
    return (
        df.select(
            F.col(id_col).alias("__doc"),
            F.col(label_col).alias("__y"),
            F.explode(toks).alias("__t"),
        )
        .groupBy("__doc", "__y", "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("__m"))
    )


def nb_fit(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    doc_tokens: DataFrame | None = None,
):
    """Multinomial NB model state: (classes = per-class doc counts,
    tc = per-(class, token) occurrence counts). Both are SUMS — a
    mergeable state unit: a model folded batch-by-batch is bit-equal
    to this fit on the union."""
    dt = (
        doc_tokens
        if doc_tokens is not None
        else nb_doc_tokens(df, text_col, label_col, id_col)
    )
    classes = df.groupBy(F.col(label_col).alias("__c")).agg(
        F.count(F.lit(1)).cast("long").alias("__ndocs")
    )
    tc = dt.groupBy(F.col("__y").alias("__c"), "__t").agg(
        F.sum("__m").cast("long").alias("__cnt")
    )
    return classes, tc


def nb_confusion_from_model(
    dt: DataFrame,
    classes: DataFrame,
    tc: DataFrame,
    alpha: float = 1.0,
) -> DataFrame:
    """Argmax decode of a (doc, label, token, m) frame against an NB
    model (classes, tc) — the tail shared by the batch operator and
    the store-served streaming decode. Returns (__y, predicted,
    n_docs). See naive_bayes_confusion for the semantics/parity
    contract."""
    totals = classes.agg(F.sum("__ndocs").cast("long").alias("__N"))
    tcl = tc.groupBy("__c").agg(F.sum("__cnt").cast("long").alias("__tok"))
    vocab = tc.select("__t").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__V")
    )
    cls = (
        classes.join(tcl, "__c", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(vocab))
        .select(
            "__c",
            F.log(
                F.col("__ndocs").cast("double") / F.col("__N").cast("double")
            ).alias("__prior"),
            F.log(
                F.coalesce(F.col("__tok"), F.lit(0).cast("long")).cast(
                    "double"
                )
                + F.lit(alpha) * F.col("__V").cast("double")
            ).alias("__lnz"),
        )
        .withColumn("__one", F.lit(1))
    )
    expanded = (
        dt.withColumn("__one", F.lit(1))
        .join(F.broadcast(cls), "__one")
        .join(tc, ["__c", "__t"], "left")
    )
    term = F.col("__m").cast("double") * F.log(
        F.coalesce(F.col("__cnt"), F.lit(0).cast("long")).cast("double")
        + F.lit(alpha)
    )
    scored = expanded.groupBy("__doc", "__y", "__c").agg(
        F.max("__prior").alias("__prior"),
        F.max("__lnz").alias("__lnz"),
        F.sum("__m").cast("long").alias("__md"),
        _scaled9_sum(term).alias("__s1"),
    )
    score = (
        F.col("__prior")
        + F.col("__s1")
        - F.col("__md").cast("double") * F.col("__lnz")
    )
    best = scored.groupBy("__doc", "__y").agg(
        F.min(F.struct((-score).alias("__neg"), F.col("__c"))).alias("__b")
    )
    return (
        best.groupBy(
            "__y",
            F.col("__b.__c").alias("predicted"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information: the
    top-``top_k`` adjacent token pairs ranked by
    PMI = ln( p(w1,w2) / (p(w1)·p(w2)) ) with p(w1,w2) = c12/B over
    bigram positions and p(w) = c/U over unigram positions — the
    "significantly more often together than chance" readout
    (Church & Hanks 1990). Complements q101's bigram model head: raw
    count ranks "of the"; PMI ranks the phrases whose parts rarely
    appear apart. ``min_count`` is the standard PMI support floor
    (hapax pairs otherwise dominate: PMI is maximal for two tokens
    seen exactly once, together).

    Parity: all counts exact longs; PMI is one mirrored double
    expression ln((c12·U·U)/((B·c1)·c2)) (products of integer-valued
    doubles, correctly rounded in any engine), round(6); the cut is
    TakeOrdered on the UNROUNDED score with the (w1, w2) tie-break.

    Scale shape: the q101 arrays_zip pair build (no position
    self-join) + one map-side-combinable pair groupBy; unigram counts
    join on the token keys (AQE-skew-split hot heads — never
    broadcast an unbounded vocab); O(top_k) output.
    """
    toks = TX.tokens(F.col(text_col))
    staged = df.select(toks.alias("__t")).filter(F.size("__t") >= 1)
    uni = staged.select(F.explode("__t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    u_tot = uni.agg(F.sum("c").cast("long").alias("__U"))
    n = F.size("__t")
    pairs = (
        staged.filter(F.size("__t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("__t", 1, n - 1).alias("w1"),
                    F.slice("__t", 2, n - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    b_tot = pairs.agg(F.count(F.lit(1)).cast("long").alias("__B"))
    j = (
        pc.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
            "w2",
        )
        .crossJoin(F.broadcast(b_tot))
        .crossJoin(F.broadcast(u_tot))
    )
    pmi = F.log(
        (
            F.col("pair_count").cast("double")
            * F.col("__U").cast("double")
            * F.col("__U").cast("double")
        )
        / (
            (F.col("__B").cast("double") * F.col("c1").cast("double"))
            * F.col("c2").cast("double")
        )
    )
    scored = j.select(
        "w1", "w2", "pair_count", "c1", "c2", pmi.alias("__pmi")
    )
    return (
        scored.orderBy(F.desc("__pmi"), "w1", "w2")
        .limit(top_k)
        .select(
            "w1",
            "w2",
            "pair_count",
            "c1",
            "c2",
            F.round(F.col("__pmi"), 6).alias("pmi"),
        )
    )


def negative_sampling_table(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.75,
) -> DataFrame:
    """word2vec-style negative-sampling table (Mikolov et al. 2013):
    P(token) ∝ count^alpha (alpha=0.75 flattens the unigram head so
    frequent tokens don't monopolize the negatives), emitted as
    half-open CUMULATIVE ranges [lo, hi) over the token-ascending
    total order — the artifact an embedding trainer samples against
    with uniform draws in [0, total). The missing TRAINING-side
    complement of the corpus statics (q103 Zipf / q111 DSIR / q116
    temperature mix read the distribution; this one feeds a sampler).

    Determinism/parity: pow(count, alpha) is the one non-correctly-
    rounded op — it is floor-quantized to 9 digits immediately
    (sign-free: counts >= 1) and every downstream number derives from
    the EXACT integer-scaled weights: the running sum folds in
    decimal(38,0) via the range-partitioned prefix device
    (operators/prefix.partitioned_prefix — one range exchange, no
    global window, reassociation-exact), lo/hi are exact-int → double
    casts, prob is one guarded division floor-quantized to 9.

    Scale shape: one map-side-combinable token count, one range
    exchange over the O(vocab) collapsed frame, a broadcast total.
    """
    from big_data_project_datapipeline_spark.functions.text import tokens
    from big_data_project_datapipeline_spark.operators.prefix import (
        partitioned_prefix,
    )

    tok = df.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )
    cnt = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return sampling_table_from_counts(cnt, alpha=alpha)


def sampling_table_from_counts(
    cnt: DataFrame, alpha: float = 0.75
) -> DataFrame:
    """The sampling-table tail of :func:`negative_sampling_table` over
    an already-materialized (token, n) count frame, so a maintained
    count store is bit-equal to batch by construction."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        partitioned_prefix,
    )

    wi = F.floor(
        F.pow(F.col("n").cast("double"), F.lit(float(alpha))) * F.lit(1e9)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    weighted = cnt.select("token", "n", wi.alias("__wi"))
    cum = partitioned_prefix(weighted, ["token"], sum_cols=["__wi"])
    tot = weighted.agg(F.sum("__wi").cast("decimal(38,0)").alias("__tot"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "n",
            (F.col("__wi").cast("double") / F.lit(1e9)).alias("weight"),
            (
                (F.col("__wi__cum") - F.col("__wi")).cast("double")
                / F.lit(1e9)
            ).alias("lo"),
            (F.col("__wi__cum").cast("double") / F.lit(1e9)).alias("hi"),
            (
                F.floor(
                    F.col("__wi").cast("double")
                    / F.nullif(F.col("__tot").cast("double"), F.lit(0.0))
                    * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("prob"),
        )
    )


def _apply_merge(arr, left, right):
    """Left-to-right non-overlapping BPE merge of the adjacent symbol
    pair (left, right) in one fold over the symbol array — the
    sequential rewrite a join cannot express (after a merge the next
    candidate pair starts AFTER the merged token: 'aaa' under (a,a)
    is [aa, a], never [a, aa] nor [aa, aa]). State is
    struct(out, pend); '' marks no pending symbol (symbols are never
    empty). Mirrored by the oracle's list_reduce string fold —
    identical semantics, different encoding."""
    empty = F.lit("")

    def step(acc, x):
        out, pend = acc["out"], acc["pend"]
        return (
            F.when(
                pend == empty,
                F.struct(out.alias("out"), x.alias("pend")),
            )
            .when(
                (pend == left) & (x == right),
                F.struct(
                    F.concat(out, F.array(F.concat(left, right))).alias(
                        "out"
                    ),
                    empty.alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(out, F.array(pend)).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"), empty.alias("pend")
    )
    return F.aggregate(
        arr,
        init,
        step,
        lambda acc: F.when(acc["pend"] == empty, acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )


def bpe_train_merges(
    df: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """TRAIN the first ``n_merges`` BPE merges in-engine (Sennrich et
    al. 2016) — the loop :func:`bpe_pair_stats` documents itself as
    the kernel of: per round, count frequency-weighted adjacent symbol
    pairs over the distinct word table, pick the max (count desc,
    pair asc — a total order, so the learned merge SEQUENCE is
    engine-reproducible), rewrite every word's symbol array with the
    left-to-right fold (:func:`_apply_merge`), repeat. Returns the
    merge table (round, left, right, pair_count) — the artifact a
    tokenizer ships.

    Fully relational: the winner is a broadcast ONE-ROW frame cross-
    joined into the rewrite (never a driver collect); each round's
    word table localCheckpoints so the per-round lineage (a fold
    nested per round) stays flat. Stops early when the pair space is
    exhausted (< n_merges rows out — the empty winner propagates).

    Scale shape: the corpus pass is ONE token count; every round then
    runs on the O(vocab) distinct word table (Heaps-bounded), with a
    map-side-combinable pair count and a 1-row TakeOrdered. At 100 TB
    the round cost is vocab-, not corpus-, sized — which is why real
    BPE trainers count words first.
    """
    merges, _ = _bpe_round_frames(df, text_col, n_merges)
    out = merges[0]
    for w in merges[1:]:
        out = out.unionByName(w)
    return out


def _adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent symbol-pair counts over a
    (__s array<string>, __f long) word table — the BPE counting
    kernel shared by the exact and batched trainers (one map-only
    zip-explode + one map-side-combinable groupBy)."""
    n = F.size("__s")
    return (
        words.filter(n >= 2)
        .select(
            "__f",
            F.explode(
                F.arrays_zip(
                    F.slice("__s", 1, n - 1).alias("a"),
                    F.slice("__s", 2, n - 1).alias("b"),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("left"), F.col("p.b").alias("right"))
        .agg(F.sum("__f").cast("long").alias("pair_count"))
    )


def _bpe_round_frames(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[list, list]:
    """The BPE trainer loop shared by :func:`bpe_train_merges` and
    :func:`bpe_compression_curve`: per round, the 1-row winner frame
    and the post-rewrite word table (expressions identical to the
    original in-line loop — factored, not changed)."""
    wc = token_counts(df, text_col)
    words = wc.select(
        F.split(F.col("token"), "").alias("__s"),
        F.col("cnt").alias("__f"),
    ).localCheckpoint(eager=False)
    merges = []
    word_frames = []
    for r in range(1, n_merges + 1):
        pairs = _adjacent_pair_counts(words)
        win = (
            pairs.orderBy(F.desc("pair_count"), "left", "right")
            .limit(1)
            .select(
                F.lit(r).cast("int").alias("round"),
                "left",
                "right",
                "pair_count",
            )
        )
        merges.append(win)
        words = (
            words.crossJoin(F.broadcast(win))
            .select(
                _apply_merge(
                    F.col("__s"), F.col("left"), F.col("right")
                ).alias("__s"),
                "__f",
            )
            .localCheckpoint(eager=False)
        )
        word_frames.append(words)
    return merges, word_frames


def bpe_train_merges_batched(
    df: DataFrame,
    text_col: str = "text",
    n_rounds: int = 2,
    batch_k: int = 4,
) -> DataFrame:
    """BPE training at realistic merge budgets:
    per round learn UP TO ``batch_k`` merges instead of one — the
    standard scalable approximation (SentencePiece/fast HF trainers
    batch the same way), because :func:`bpe_train_merges`'s
    one-merge-per-round loop is exact but needs 10k+ driver rounds for
    a production vocabulary, while this runs ``total/batch_k`` rounds
    for the same budget.

    Per round: the top-``batch_k`` candidate pairs by the exact-trainer
    total order (count desc, left asc, right asc) collapse to ONE
    sorted-array row (array_sort over a <=k-row collect_list — no
    window, no driver collect); a greedy fold over that O(k) array
    keeps a candidate iff neither symbol was used by a higher-ranked
    kept pair (the used set also blocks symbols equal to a kept pair's
    MERGED token, so no kept merge can create or destroy another kept
    pair's occurrences mid-batch); the kept merges then apply to every
    word IN RANK ORDER as one nested fold (outer fold over the kept
    array, inner :func:`_apply_merge` left-to-right rewrite). Output:
    (round, rank, left, right, pair_count) where rank is the position
    within the round's kept batch and pair_count is the PRE-round
    count (exactly what the exact trainer reports for its winner).

    With ``batch_k=1`` every round keeps exactly the exact trainer's
    winner and the two trainers produce the identical merge sequence
    (test-pinned). Pair exhaustion yields an empty kept batch: the
    fold is the identity, the round emits no rows, and later rounds
    stay empty — same early-stop surface as the exact trainer.

    Scale shape: identical to the exact trainer per round (one
    vocab-sized pair count, a k-row TakeOrdered, a broadcast 1-row
    kept frame, one map-only rewrite pass over the O(vocab) word
    table) — but ``batch_k``× fewer rounds per merge budget.
    """
    if batch_k < 1 or n_rounds < 1:
        raise ValueError(
            "bpe_train_merges_batched: n_rounds and batch_k must be >= 1"
        )
    wc = token_counts(df, text_col)
    words = wc.select(
        F.split(F.col("token"), "").alias("__s"),
        F.col("cnt").alias("__f"),
    ).localCheckpoint(eager=False)
    kept_t = "array<struct<left:string,right:string,pair_count:bigint>>"

    def _greedy(acc, c):
        ok = ~F.array_contains(acc["used"], c["left"]) & ~F.array_contains(
            acc["used"], c["right"]
        )
        taken = F.struct(
            F.concat(
                acc["kept"],
                F.array(
                    F.struct(
                        c["left"].alias("left"),
                        c["right"].alias("right"),
                        c["pair_count"].alias("pair_count"),
                    )
                ),
            ).alias("kept"),
            F.concat(
                acc["used"],
                F.array(
                    c["left"],
                    c["right"],
                    F.concat(c["left"], c["right"]),
                ),
            ).alias("used"),
        )
        return F.when(ok, taken).otherwise(acc)

    out_frames = []
    for r in range(1, n_rounds + 1):
        cand = (
            _adjacent_pair_counts(words)
            .orderBy(F.desc("pair_count"), "left", "right")
            .limit(batch_k)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("pair_count")).alias("__nc"),
                            F.col("left"),
                            F.col("right"),
                            F.col("pair_count"),
                        )
                    )
                ).alias("__cand")
            )
        )
        init = F.struct(
            F.array().cast(kept_t).alias("kept"),
            F.array().cast("array<string>").alias("used"),
        )
        kept_row = cand.select(
            F.aggregate(
                "__cand", init, _greedy, lambda a: a["kept"]
            ).alias("__kept")
        ).localCheckpoint(eager=False)
        out_frames.append(
            kept_row.select(
                F.posexplode("__kept").alias("__i", "__m")
            ).select(
                F.lit(r).cast("int").alias("round"),
                (F.col("__i") + 1).cast("int").alias("rank"),
                F.col("__m.left").alias("left"),
                F.col("__m.right").alias("right"),
                F.col("__m.pair_count").alias("pair_count"),
            )
        )
        words = (
            words.crossJoin(F.broadcast(kept_row))
            .select(
                F.aggregate(
                    "__kept",
                    F.col("__s"),
                    lambda acc, m: _apply_merge(
                        acc, m["left"], m["right"]
                    ),
                ).alias("__s"),
                "__f",
            )
            .localCheckpoint(eager=False)
        )
    out = out_frames[0]
    for w in out_frames[1:]:
        out = out.unionByName(w)
    return out


def bpe_compression_curve(
    df: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """The tokenizer-training READOUT on top of
    :func:`bpe_train_merges`: after each learned merge, the corpus's
    total symbol count and the compression ratio vs characters —
    (round, left, right, pair_count, total_symbols, compression) —
    the curve that decides how many merges a vocabulary budget buys
    (its knee is the stopping rule). total_symbols is NOT derivable
    from pair counts alone (overlapping occurrences merge fewer times
    than they count: 'aaa' has two (a,a) pairs but one merge), so each
    round's post-rewrite word table is aggregated — one
    O(vocab)-frame sum per round on frames the trainer already built.

    Exactness: symbol totals are exact integers (Σ cnt · |symbols|);
    compression = total_symbols / total_chars is one IEEE division of
    exact longs, floor-quantized to 6 (the q217 device).
    """
    merges, word_frames = _bpe_round_frames(df, text_col, n_merges)
    wc = token_counts(df, text_col)
    base = wc.agg(
        F.sum(F.length("token").cast("long") * F.col("cnt"))
        .cast("long")
        .alias("__chars")
    )
    rows = []
    for win, words in zip(merges, word_frames):
        size = words.agg(
            F.sum(F.size("__s").cast("long") * F.col("__f"))
            .cast("long")
            .alias("total_symbols")
        )
        rows.append(
            win.crossJoin(F.broadcast(size)).crossJoin(F.broadcast(base))
        )
    out = rows[0]
    for w in rows[1:]:
        out = out.unionByName(w)
    ratio = (
        F.col("total_symbols").cast("double")
        / F.col("__chars").cast("double")
    )
    return out.select(
        "round",
        "left",
        "right",
        "pair_count",
        "total_symbols",
        (
            F.floor(ratio * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).alias("compression"),
    )


def good_turing(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Good–Turing frequency-of-frequencies table (Gale & Sampson's
    classic): for each observed token frequency r, the number of types
    N_r at that frequency, the smoothed count r* = (r+1)·N_{r+1}/N_r
    (NULL where N_{r+1} is unobserved — simple GT leaves those slots to
    the caller's smoothing fit), that stratum's share of the token mass
    r·N_r/N, and the UNSEEN-mass estimate P0 = N_1/N stamped on every
    row (the q137 broadcast-scalar shape) — the number that prices OOV
    probability for any LM built on this corpus (the q108 OOV rate
    measures a given held-out set; P0 estimates the unseen mass from
    the training corpus alone).

    Exactness: N_r and N are exact integer aggregates; r* and the mass
    shares are single IEEE divisions of exact longs, floor-quantized
    to 6 (the q217 device). N_{r+1} arrives by an equi-join of the
    O(distinct r) frequency table to itself — bounded output (token
    frequencies are heavily repeated; distinct r grows ~log-ish).

    Scale shape: one map-side-combinable token count, one count-of-
    counts aggregate over the O(vocab) frame, a self-join + scalar
    broadcasts over the O(distinct r) collapsed table.
    """
    from big_data_project_datapipeline_spark.functions.text import tokens

    cnt = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    return good_turing_from_counts(cnt.select("token", F.col("r").alias("n")))


def good_turing_from_counts(cnt: DataFrame) -> DataFrame:
    """The Good–Turing tail of :func:`good_turing` over an
    already-materialized (token, n) count frame, so a maintained count
    store is bit-equal to a batch recount by construction (the
    sampling_table_from_counts pairing). Expressions
    identical to the original in-line form (factored, not changed)."""
    cnt = cnt.select("token", F.col("n").cast("long").alias("r"))
    nr = cnt.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    tot = nr.agg(
        F.sum(F.col("r") * F.col("n_types")).cast("long").alias("__n"),
        F.sum(F.when(F.col("r") == 1, F.col("n_types")))
        .cast("long")
        .alias("__n1"),
    )
    nxt = nr.select(
        (F.col("r") - F.lit(1)).alias("r"),
        F.col("n_types").alias("__nr_next"),
    )

    def _q6(x):
        return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        nr.join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_types",
            _q6(
                (F.col("r") + F.lit(1)).cast("double")
                * F.col("__nr_next").cast("double")
                / F.col("n_types").cast("double")
            ).alias("r_star"),
            _q6(
                (F.col("r") * F.col("n_types")).cast("double")
                / F.col("__n").cast("double")
            ).alias("mass_share"),
            _q6(
                F.coalesce(F.col("__n1"), F.lit(0)).cast("double")
                / F.col("__n").cast("double")
            ).alias("p_unseen"),
        )
    )


def token_gini(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Gini concentration of the token-frequency distribution per
    group — the Lorenz-curve summary completing the corpus-statics
    family (Zipf q103 fits the SHAPE of the rank-frequency law,
    Good-Turing q231 prices the unseen tail; Gini answers "how much of
    this source's token mass sits in how few types", the
    boilerplate/template-heaviness readout a curation pass reads
    before mixing sources). Per group: n_types, n_tokens, gini, and
    top_decile_share (the token-mass share of the top ceil(n/10) types
    by count — the headline number behind the coefficient).

    Exact until the surface: with types ranked 1..n ascending by
    (count, token) — the tie order provably cannot change Σ rank·count
    since tied counts commute — the population Gini is the integer
    rational (2·Σ rank·cnt − (n+1)·Σcnt) / (n·Σcnt); both folds run in
    decimal(38,0) (order-free), ONE IEEE division at the surface,
    floor-quantized to 6 (the q217 device, non-negative by
    construction so the unsigned form suffices). The top-decile cut is
    pure integer arithmetic (rank > n − (n+9) div 10).

    Scale shape: one token explode + one map-side-combinable
    (group, token) count collapses the corpus to the O(vocab) type
    frame; the rank comes from the group_rank_frame range-exchange
    device (NEVER a window partitioned by the low-cardinality group —
    the q166 funnel); one O(groups)-output closing aggregate.
    """
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(TX.tokens(F.col(text_col))).alias("token"),
    )
    g = tok.groupBy("grp", "token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return _gini_tail(g, ["grp"]).withColumnRenamed("grp", group_col)


def _gini_tail(g: DataFrame, gcols: list) -> DataFrame:
    """The Gini closing over a (*gcols, token, cnt) type frame —
    expressions identical to the original in-line q232 form (factored,
    not changed)."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    dec = "decimal(38,0)"
    ranked = group_rank_frame(
        g,
        gcols,
        ["cnt", "token"],
        group_rank_col="__rank",
        group_count_col="__gn",
    )
    top_cut = F.expr("__gn - ((__gn + 9) div 10)")
    agg = ranked.groupBy(*gcols).agg(
        F.max("__gn").cast("long").alias("n_types"),
        F.sum(F.col("cnt").cast(dec)).cast(dec).alias("__t"),
        F.sum((F.col("__rank").cast(dec) * F.col("cnt").cast(dec)).cast(dec))
        .cast(dec)
        .alias("__s"),
        F.sum(
            F.when(F.col("__rank") > top_cut, F.col("cnt").cast(dec))
        )
        .cast(dec)
        .alias("__topc"),
    )

    def _q6(x):
        return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    num = (
        F.lit(2).cast(dec) * F.col("__s")
        - (F.col("n_types") + F.lit(1)).cast(dec) * F.col("__t")
    )
    den = F.col("n_types").cast(dec) * F.col("__t")
    return agg.select(
        *gcols,
        "n_types",
        F.col("__t").cast("long").alias("n_tokens"),
        _q6(num.cast("double") / den.cast("double")).alias("gini"),
        _q6(
            F.coalesce(F.col("__topc"), F.lit(0).cast(dec)).cast("double")
            / F.col("__t").cast("double")
        ).alias("top_decile_share"),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    budgets: tuple = (100, 1000, 10000),
) -> DataFrame:
    """Vocabulary-budget coverage curve: for each budget k, the share
    of the corpus token mass covered by the top-k types (count desc,
    token asc ties) — the readout that prices a vocabulary truncation
    BEFORE training a tokenizer (every type past the budget becomes
    UNK/byte-fallback; this is the complement of q108's measured OOV
    rate and q232's concentration summary, read per candidate budget).
    Output: (budget, n_types_used, covered_tokens, coverage) with
    exact integer counts and ONE floor-quantized IEEE division per
    row.

    Scale shape: one token count collapses the corpus to the O(vocab)
    type frame; the descending rank comes from the partitioned_prefix
    range-exchange device (order key = (-cnt, token) — ascending rank
    over the negated count IS the descending count rank, unique by the
    token tie-break); one conditional aggregate serves every budget in
    a single pass (no per-budget scans).
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    if not budgets or any(int(k) < 1 for k in budgets):
        raise ValueError("vocab_coverage: budgets must be >= 1")
    if len({int(k) for k in budgets}) != len(budgets):
        # duplicate budgets would alias two identical __cov_{k} columns
        # in one agg — an ambiguous-column AnalysisException downstream
        raise ValueError("vocab_coverage: budgets must be distinct")
    dec = "decimal(38,0)"
    g = token_counts(df, text_col).select(
        "token", "cnt", (-F.col("cnt")).alias("__negcnt")
    )
    ranked = group_rank_frame(
        g, [], ["__negcnt", "token"], group_rank_col="__rank",
        group_count_col="__gn",
    )
    aggs = [
        F.max("__gn").cast("long").alias("__n"),
        F.sum(F.col("cnt").cast(dec)).cast(dec).alias("__t"),
    ]
    for k in budgets:
        aggs.append(
            F.sum(
                F.when(
                    F.col("__rank") <= F.lit(int(k)), F.col("cnt").cast(dec)
                )
            )
            .cast(dec)
            .alias(f"__cov_{int(k)}")
        )
    # an empty corpus yields one all-null agg row (max/sum over zero
    # rows); drop it so the surface is an EMPTY frame, matching the
    # other corpus operators' empty-input behavior
    a = ranked.agg(*aggs).filter(F.col("__t").isNotNull())

    def _q6(x):
        return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    rows = []
    for k in budgets:
        cov = F.coalesce(
            F.col(f"__cov_{int(k)}"), F.lit(0).cast(dec)
        )
        rows.append(
            a.select(
                F.lit(int(k)).cast("long").alias("budget"),
                F.least(F.lit(int(k)).cast("long"), F.col("__n")).alias(
                    "n_types_used"
                ),
                cov.cast("long").alias("covered_tokens"),
                _q6(cov.cast("double") / F.col("__t").cast("double")).alias(
                    "coverage"
                ),
            )
        )
    out = rows[0]
    for w in rows[1:]:
        out = out.unionByName(w)
    return out


def kneser_ney_bigram(
    df: DataFrame, text_col: str = "text", discount: float = 0.75
) -> DataFrame:
    """Interpolated Kneser–Ney bigram model trained in-engine (Kneser &
    Ney 1995; Chen & Goodman 1999's interpolated form with one fixed
    discount D): the standard n-gram smoothing — the step past q101's
    unsmoothed MLE conditionals and the model q112's perplexity filter
    would score with in production (MLE assigns zero to every unseen
    bigram; KN redistributes exactly the discounted mass to a
    CONTINUATION prior — "how many contexts does w2 complete" — which
    is the right novelty prior for text).

        P_KN(w2|w1) = max(c(w1,w2) − D, 0)/c(w1)
                      + λ(w1) · P_cont(w2)
        λ(w1)    = D · N1+(w1,·) / c(w1)
        P_cont(w2) = N1+(·,w2) / N1+(··)

    Returns one row per OBSERVED bigram: (w1, w2, c12, c1, fanout =
    N1+(w1,·), p_cont, lambda_w1, p_kn) — a scorer joins on (w1, w2)
    and backs off to λ(w1)·P_cont(w2) for unseen pairs (both factors
    are in the table via any w1-row / any w2-row). Probabilities are
    floor-quantized to 9 (scoring-grade precision; the engine-split
    q217 device). D = 0.75 is the classic default and is exact in
    binary, so max(c12 − D, 0) is one exact double subtraction of
    integer-valued doubles.

    Normalization (pinned in tests): for every context w1,
    Σ_{w2 ∈ V} P_KN(w2|w1) = 1 — the discounted mass D·N1+(w1,·)
    equals exactly what the continuation prior redistributes.

    Scale shape: bigrams from one map-only arrays_zip explode (the
    q101/q118 device) + one map-side-combinable (w1, w2) count; every
    other statistic is an O(bigram-types) aggregate off that frame
    (context totals, fanouts, continuation counts) joined back on
    vocab-sized keys; the two scalars broadcast.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError("kneser_ney_bigram: discount must be in (0, 1)")
    return _kn_model_from_pairs(bigram_counts(df, text_col), discount)


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram-count frame ``(w1, w2, c12)`` — one map-only
    arrays_zip explode (the q101/q118 device) + one map-side-combinable
    count. The mergeable state behind the KN family: associative long
    sums, so a store can fold per-batch deltas of this frame and
    re-price the model per tick with zero corpus rescans (the
    token_counts pattern one n-gram order up)."""
    toks = df.select(TX.tokens(F.col(text_col)).alias("__t"))
    n = F.size("__t")
    return (
        toks.filter(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("__t", 1, n - 1).alias("w1"),
                    F.slice("__t", 2, n - 1).alias("w2"),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )


def _kn_model_from_pairs(big: DataFrame, discount: float) -> DataFrame:
    """The KN closing over a (w1, w2, c12) bigram-count frame — shared
    by :func:`kneser_ney_bigram` and :func:`kneser_ney_doc_scores`
    (expressions identical to the original in-line form — factored,
    not changed)."""
    ctx = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("fanout"),
    )
    cont = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("__n1_right")
    )
    tot = big.agg(F.count(F.lit(1)).cast("long").alias("__n1_all"))

    def _q9(x):
        return F.floor(x * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)

    d = F.lit(float(discount))
    p_cont = F.col("__n1_right").cast("double") / F.col(
        "__n1_all"
    ).cast("double")
    lam = (
        d * F.col("fanout").cast("double") / F.col("c1").cast("double")
    )
    p_kn = (
        F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
        / F.col("c1").cast("double")
        + lam * p_cont
    )
    return (
        big.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "fanout",
            _q9(p_cont).alias("p_cont"),
            _q9(lam).alias("lambda_w1"),
            _q9(p_kn).alias("p_kn"),
        )
    )


def kneser_ney_doc_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document scoring under the interpolated Kneser–Ney bigram
    model (:func:`kneser_ney_bigram`) — avg ln p_KN(w2|w1) over the
    document's bigram occurrences and the perplexity exp(−avg): the
    production form of q112's add-k filter (KN is what a KenLM-class
    scorer actually smooths with; add-k over-penalizes phrase-shaped
    text whose continuations are diverse). Fit on the corpus itself
    (the q112 self-contained/oracle-checkable framing), so every
    scored bigram is in the model and the backoff branch never fires
    here; held-out scoring joins the exported model table and backs
    off via (lambda_w1, p_cont) exactly as documented there.

    Docs with < 2 tokens emit no row. Determinism devices are q112's
    verbatim: the model's p_kn is floor-quantized at 9, ln of
    engine-identical doubles is glibc-identical, per-doc c·ln p terms
    fold in decimal(28,12), round(6) surfaces.

    Scale shape: ONE tokenize pass (doc pairs stage the corpus counts
    — the model derives from the same frame, unlike a naive
    train-then-score double read); the model join shuffles on
    (w1, w2), deliberately not broadcast (bigram vocab is hapax-heavy
    and unbounded); everything else is vocab-bounded.
    """
    doc_pairs = _kn_doc_pairs(df, text_col, id_col)
    big = doc_pairs.groupBy("w1", "w2").agg(
        F.sum("c").cast("long").alias("c12")
    )
    model = _kn_model_from_pairs(big, discount)
    scored = doc_pairs.join(
        model.select("w1", "w2", "p_kn"), ["w1", "w2"]
    ).withColumn(
        "lp",
        (F.col("c").cast("double") * F.log(F.col("p_kn"))).cast(
            "decimal(28,12)"
        ),
    )
    per = scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_pairs"),
        (F.sum("lp").cast("double") / F.sum("c")).alias("__avg"),
    )
    return per.select(
        "doc_id",
        "n_pairs",
        F.round("__avg", 6).alias("avg_logprob"),
        F.round(F.exp(-F.col("__avg")), 6).alias("ppl"),
    )


def _kn_doc_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document bigram occurrence counts ``(doc_id, w1, w2, c)``
    — the staged frame :func:`kneser_ney_doc_scores` both scores and
    derives its model from."""
    toks = TX.tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("__t")
    ).filter(F.size("__t") >= 2)
    n = F.size("__t")
    return (
        staged.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("__t", 1, n - 1).alias("w1"),
                    F.slice("__t", 2, n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select(
            "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def kneser_ney_score_held_out(
    train_df: DataFrame,
    score_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """HELD-OUT document scoring under an interpolated Kneser–Ney
    bigram model — the backoff branch :func:`kneser_ney_doc_scores`
    documents but (fit-on-self) never fires: the model trains on
    ``train_df`` and scores ``score_df``, so scored bigrams can be
    (a) observed pairs (the full interpolated p_KN), (b) unseen pairs
    under a SEEN context w1 (pure backoff λ(w1)·P̃_cont(w2)), or
    (c) pairs whose context w1 the model never saw (the continuation
    prior P̃_cont(w2) alone — the standard lower-order fallback). This
    is the production perplexity-filter shape: fit on yesterday's
    corpus, score today's candidates (q112's add-k filter smoothed
    the way a KenLM-class scorer actually would).

    OOV handling makes the open vocabulary sum to one: the
    continuation prior is add-one smoothed over the train model's
    right-word vocabulary PLUS one UNK slot,
    P̃_cont(w2) = (N1+(·,w2) + 1) / (N1+(··) + V + 1) with V =
    |{w2 : N1+(·,w2) > 0}|, so an unseen w2 prices at
    1/(N1+(··) + V + 1) — never zero, never log(−inf). Per seen
    context, Σ_{w2 ∈ V ∪ {UNK}} P_KN(w2|w1) = 1 EXACTLY (the
    discounted mass equals what the smoothed prior redistributes —
    test-pinned), so this is a proper conditional over the open
    vocabulary.

    Per scored document: n_pairs (bigram occurrences), n_backoff
    (occurrences scored on branch b/c — the novelty readout),
    avg_logprob, ppl. Docs with < 2 tokens emit no row. Determinism:
    every probability floor-quantized at 9 before ln (the q217
    engine-split device), c·ln p terms fold in decimal(28,12),
    round(6) surfaces; the two scalars (N1+(··), V) fold in as exact
    literals from one bounded O(1)-output action.

    Scale shape: ONE tokenize pass per side; the score stream
    LEFT-joins the O(bigram-types) count table on (w1, w2) and the
    two O(vocab) marginal tables on w1 / w2 — the q62/q112
    external-LM join shape, no cross products, everything else
    vocab-bounded.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(
            "kneser_ney_score_held_out: discount must be in (0, 1)"
        )
    big = bigram_counts(train_df, text_col)
    ctx = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("fanout"),
    )
    cont = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1r")
    )
    # the two scalars fold in as literals (the q87 node-count device):
    # one bounded O(1)-output action on the O(bigram-types) frame
    tot = big.agg(
        F.count(F.lit(1)).cast("long").alias("n1a"),
        F.countDistinct("w2").cast("long").alias("v"),
    ).first()
    n1a, v = tot["n1a"] or 0, tot["v"] or 0
    denom = float(n1a + v + 1)  # + the UNK slot

    def _q9(x):
        return F.floor(x * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)

    d = F.lit(float(discount))
    doc_pairs = _kn_doc_pairs(score_df, text_col, id_col)
    joined = (
        doc_pairs.join(big, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
    )
    # smoothed continuation prior — defined for EVERY w2 (unseen
    # right words take the UNK slot's mass)
    p_cont_s = (
        (F.coalesce(F.col("n1r"), F.lit(0)) + F.lit(1)).cast("double")
        / F.lit(denom)
    )
    lam = d * F.col("fanout").cast("double") / F.col("c1").cast("double")
    p = F.when(
        F.col("c12").isNotNull(),
        _q9(
            F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
            / F.col("c1").cast("double")
            + lam * p_cont_s
        ),
    ).otherwise(
        F.when(
            F.col("c1").isNotNull(), _q9(lam * p_cont_s)
        ).otherwise(_q9(p_cont_s))
    )
    scored = joined.select(
        "doc_id",
        "c",
        F.col("c12").isNull().cast("int").alias("__backoff"),
        (F.col("c").cast("double") * F.log(p)).cast(
            "decimal(28,12)"
        ).alias("lp"),
    )
    per = scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_pairs"),
        F.sum(F.col("c") * F.col("__backoff")).cast("long").alias(
            "n_backoff"
        ),
        (F.sum("lp").cast("double") / F.sum("c")).alias("__avg"),
    )
    return per.select(
        "doc_id",
        "n_pairs",
        "n_backoff",
        F.round("__avg", 6).alias("avg_logprob"),
        F.round(F.exp(-F.col("__avg")), 6).alias("ppl"),
    )
