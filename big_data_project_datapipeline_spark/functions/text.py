"""Text-analysis functions for LLM training-data pipelines.

All pure built-in column expressions (split/regexp/aggregate higher-order
functions) — JVM-side, no Python UDFs, so they run at full codegen speed
over a 100 TB `documents` table. Tokenization is whitespace-based to match
the oracle SQL exactly; a BPE-ish regex tokenizer is provided separately.

Every stat accepts an optional pre-tokenized ``toks`` column. Catalyst does
NOT common-subexpression-eliminate across select-list expressions, so a
naive "each stat tokenizes for itself" projection re-splits the text dozens
of times per row (observed: 57 split() nodes in one stats plan);
``add_text_stats`` materializes the token array once behind a projection
boundary and derives everything from it.

Ops: token/char statistics, punctuation & stopword ratios, a composite
quality score, n-gram-free heuristic language ID (stopword voting), and
document fingerprints (normalized md5 + winnowing).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Small deterministic stopword inventories for the heuristic language ID.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "las"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "eine"],
    "fr": ["le", "la", "les", "des", "et", "est", "une", "dans", "pour", "que"],
}

# BPE-ish token pattern: words, numbers, or single non-space symbols —
# approximates a byte-pair pre-tokenizer's word splitting.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty strings removed)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def _toks(text: Column, toks: Column | None) -> Column:
    return toks if toks is not None else tokens(text)


def token_count(text: Column, toks: Column | None = None) -> Column:
    return F.size(_toks(text, toks))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens (words / number runs / symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def char_count(text: Column) -> Column:
    return F.length(text)


def avg_token_len(text: Column, toks: Column | None = None) -> Column:
    tk = _toks(text, toks)
    total = F.aggregate(
        F.transform(tk, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(tk) > 0, total.cast("double") / F.size(tk))


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.when(
        F.length(text) > 0, F.length(stripped).cast("double") / F.length(text)
    ).otherwise(F.lit(0.0))


def _in_words(words: list[str]):
    # NB: a default-arg lambda (lambda t, L=words: ...) must NOT be passed to
    # F.filter — PySpark reads lambda arity and would bind L to the element
    # index. A closure factory keeps the lambda unary.
    return lambda t: t.isin(words)


def stopword_ratio(
    text: Column, lang: str = "en", toks: Column | None = None
) -> Column:
    tk = _toks(text, toks)
    hits = F.size(F.filter(tk, _in_words(STOPWORDS[lang])))
    return F.when(F.size(tk) > 0, hits.cast("double") / F.size(tk)).otherwise(
        F.lit(0.0)
    )


def uppercase_ratio(text: Column) -> Column:
    upp = F.regexp_replace(text, r"[^A-Z]", "")
    return F.when(
        F.length(text) > 0, F.length(upp).cast("double") / F.length(text)
    ).otherwise(F.lit(0.0))


def quality_score(text: Column, toks: Column | None = None) -> Column:
    """Composite [0,1] quality heuristic: length band + avg token length
    band + low punctuation + nonzero stopword signal. Deterministic and
    oracle-expressible (plain arithmetic over the stats above)."""
    n_tok = token_count(text, toks)
    length_ok = (n_tok >= 5).cast("double")
    atl = F.coalesce(avg_token_len(text, toks), F.lit(0.0))
    token_len_ok = ((atl >= 2.0) & (atl <= 12.0)).cast("double")
    punct_ok = (punct_ratio(text) <= 0.2).cast("double")
    stop_ok = (stopword_ratio(text, "en", toks) >= 0.05).cast("double")
    return (
        F.lit(0.25) * length_ok
        + F.lit(0.25) * token_len_ok
        + F.lit(0.25) * punct_ok
        + F.lit(0.25) * stop_ok
    )


def lang_scores(text: Column, toks: Column | None = None) -> dict[str, Column]:
    """Per-language stopword-hit counts (the n-gram-heuristic stand-in)."""
    tk = _toks(text, toks)
    return {
        lang: F.size(F.filter(tk, _in_words(words)))
        for lang, words in STOPWORDS.items()
    }


def predicted_lang(text: Column, toks: Column | None = None) -> Column:
    """argmax over lang_scores with deterministic alphabetical tie-break;
    'unknown' when no stopword hits at all.

    Each language's score expression is evaluated exactly ONCE (array of
    (−score, lang) structs, sorted). The equivalent nested-when chain
    embeds every prior score in each branch — the expression tree grows
    2^langs and was measured 7× slower."""
    scores = lang_scores(text, toks)
    entries = F.array(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(scores)
        ]
    )
    top = F.array_sort(entries)[0]
    return F.when(top["neg"] < 0, top["lang"]).otherwise(F.lit("unknown"))


def normalized_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint robust to case/whitespace/punctuation:
    md5(lower → strip non-alnum-space → collapse spaces → trim)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return F.md5(norm)


def winnow_fingerprints_udf(k: int = 5, window: int = 4, base: int = 256):
    """Arrow-vectorized winnowing: a polynomial hash
    Σ code[i+j]·base^(k−1−j) of every k-gram of the lowercased text's
    codepoints, then the distinct minima of every ``window`` consecutive
    gram hashes. Integer arithmetic is exact, so the set equals a
    higher-order-function expression form's (test-pinned); that form
    evaluates its lambdas interpreted (HOFs are outside whole-stage
    codegen), ~μs per element, while numpy sliding windows do the whole
    document in two vectorized passes — measured ~20× faster on the
    bench corpus.

    Returns the fingerprint SET sorted ascending (np.unique).
    """
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.functions import pandas_udf

    weights = (base ** np.arange(k - 1, -1, -1)).astype(np.int64)

    @pandas_udf("array<bigint>")
    def fp(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None:
                out.append([])
                continue
            codes = np.frombuffer(
                s.lower().encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            if len(codes) < k:
                out.append([])
                continue
            grams = sliding_window_view(codes, k) @ weights
            if len(grams) < window:
                out.append([int(grams.min())])
                continue
            mins = sliding_window_view(grams, window).min(axis=1)
            out.append([int(v) for v in np.unique(mins)])
        return pd.Series(out)

    return fp


# --- PII / boilerplate scrubbing -------------------------------------------
# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround. Scrub order matters — URLs
# first (they can contain '@'), then emails, then bare IPv4s.
URL_PATTERN = r"https?://\S+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b(\d{1,3}\.){3}\d{1,3}\b"

SCRUB_STEPS: list[tuple[str, str]] = [
    (URL_PATTERN, "<URL>"),
    (EMAIL_PATTERN, "<EMAIL>"),
    (IPV4_PATTERN, "<IP>"),
]


def scrub_text(text: Column) -> Column:
    """PII/link-scrubbed text: URLs → <URL>, emails → <EMAIL>, IPv4s →
    <IP>, whitespace collapsed, trimmed. Pure ``regexp_replace`` chain —
    codegen'd JVM regex, no Python. Mirrors reference-pipeline text
    cleaning; at 100 TB this is a map-only pass."""
    out = text
    for pat, rep in SCRUB_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def normalize_text(text: Column) -> Column:
    """Canonical text normalization for dedup keys and training input:
    lowercase, map every char outside [a-z0-9] + whitespace to a space,
    collapse whitespace runs, trim. The char-class patterns sit in the
    Java∩RE2 intersection (the q59 scrub rule) so the same literal runs
    on both engines; Unicode NFKC is out of scope here (no ICU on the
    oracle side) — documented, not silently approximated.

    Map-only at any scale; this is the normalization the exact-dedup
    (q20) and fingerprint (q43) keys assume upstream."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def scrub_counts(text: Column) -> dict[str, Column]:
    """Match counts per scrub category on the ORIGINAL text."""
    return {
        "n_urls": F.regexp_count(text, F.lit(URL_PATTERN)),
        "n_emails": F.regexp_count(text, F.lit(EMAIL_PATTERN)),
        "n_ips": F.regexp_count(text, F.lit(IPV4_PATTERN)),
    }


def add_repetition_metrics(
    df: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``top_unigram_frac``  — fraction of tokens that are the modal token
    - ``top_bigram_frac``   — fraction of bigrams that are the modal bigram
    - ``dup_trigram_frac``  — fraction of trigrams that are repeats
      (1 − distinct/total)

    Shape for 100 TB: the (doc, n, gram) frequency table is built by ONE
    explode + groupBy (map-side combine collapses repeats before the
    shuffle); modal counts per (doc, n) and the final per-doc pivot are
    keyed on doc_id, so no skew beyond document count. A per-row
    higher-order-function mode would be O(len²) per doc — unbounded for
    book-length documents — hence the relational shape. Grams travel as
    raw strings: a hashed variant (60-bit md5, the engine's portable
    digest) was measured 1.6× SLOWER end-to-end — the per-gram md5 costs
    more than the narrower shuffle saves at word-gram sizes.
    

    Output semantics (documented per review): zero-token docs emit NO
    row (the gram explode has nothing to emit — join back with a left
    join if every doc must appear), and docs too short for a bigram/
    trigram carry NULL for those fractions.
    """
    from . import dedup as D  # local import to avoid a module cycle

    staged = df.select(doc_id_col, tokens(F.col(text_col)).alias("__toks"))
    tk = F.col("__toks")
    grams = staged.select(
        doc_id_col,
        F.explode(
            F.concat(
                F.transform(tk, lambda t: F.struct(F.lit(1).alias("n"), t.alias("g"))),
                F.transform(
                    D.shingles_from_tokens(tk, 2),
                    lambda s: F.struct(F.lit(2).alias("n"), s.alias("g")),
                ),
                F.transform(
                    D.shingles_from_tokens(tk, 3),
                    lambda s: F.struct(F.lit(3).alias("n"), s.alias("g")),
                ),
            )
        ).alias("ng"),
    ).select(doc_id_col, F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
    per_gram = grams.groupBy(doc_id_col, "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_n = per_gram.groupBy(doc_id_col, "n").agg(
        F.max("cnt").alias("top_cnt"),
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
    )

    def _pick(n: int, expr: Column) -> Column:
        return F.max(F.when(F.col("n") == n, expr))

    return per_n.groupBy(doc_id_col).agg(
        _pick(1, F.col("total")).alias("n_tokens"),
        (_pick(1, F.col("top_cnt")) / _pick(1, F.col("total"))).alias(
            "top_unigram_frac"
        ),
        (_pick(2, F.col("top_cnt")) / _pick(2, F.col("total"))).alias(
            "top_bigram_frac"
        ),
        (
            F.lit(1.0)
            - _pick(3, F.col("n_distinct")) / _pick(3, F.col("total"))
        ).alias("dup_trigram_frac"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document (tf · ln(N/df), ties by token).

    Scale shape: term frequencies are one explode + groupBy with map-side
    combine; document frequency reuses the tf table (already one row per
    (doc, token)); the tf⋈df join shuffles on token — deliberately NOT a
    broadcast, since a web-scale vocabulary (hapax-heavy) is itself huge.
    N arrives via a 1-row cross join, which Spark plans as a broadcast
    nested loop — no driver-side count() action. Ranking uses the
    ROUNDED score so cross-engine ULP noise in ln() cannot flip ranks.
    """
    staged = df.select(doc_id_col, tokens(F.col(text_col)).alias("__toks"))
    tf = (
        staged.select(doc_id_col, F.explode("__toks").alias("token"))
        .groupBy(doc_id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    )
    scored = (
        tf.join(dft, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(doc_id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(doc_id_col, "token", "tf", "df", "tfidf", "rank")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 keyword search: top-k documents for a bag of query terms
    (lowercased on entry — the corpus tokenizer lowercases, so a
    raw-cased query term would silently contribute zero matches).

    idf uses the Lucene-style ln(1 + (N - df + 0.5)/(df + 0.5)) (always
    positive); the tf saturation uses the standard k1/b length
    normalization against the corpus mean doc length.

    Scale shape mirrors tf_idf_top_terms, but the tf table is filtered to
    the query terms BEFORE any join — the per-term postings list, not the
    full vocabulary, is what flows. df/N/avgdl all arrive as 1-row or
    len(query)-row broadcast frames (no driver action). The final top-k is
    orderBy+limit — Spark plans TakeOrdered (per-partition heap + driver
    merge of k·P rows), never a global sort.

    Parity: per-term contributions are rounded to 6dp (ln is
    transcendental) and summed in DECIMAL so the per-doc score is
    order-independent; ranking uses the rounded score with doc_id
    tiebreak.
    """
    staged = df.select(doc_id_col, tokens(F.col(text_col)).alias("__toks"))
    lens = staged.select(
        doc_id_col, F.size("__toks").cast("double").alias("dl")
    )
    tf = (
        staged.select(doc_id_col, F.explode("__toks").alias("token"))
        .filter(F.col("token").isin([t.lower() for t in query_terms]))
        .groupBy(doc_id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = df.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    ).crossJoin(
        staged.select(F.explode("__toks").alias("__t")).agg(
            F.count(F.lit(1)).cast("double").alias("__n_tokens")
        )
    )
    contrib = (
        tf.join(lens, doc_id_col)
        .join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("__avgdl", F.col("__n_tokens") / F.col("__n_docs"))
        .withColumn(
            "__idf",
            F.log(
                1.0
                + (F.col("__n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "__term_score",
            F.round(
                F.col("__idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
                ),
                6,
            ),
        )
    )
    scored = contrib.groupBy(doc_id_col).agg(
        F.sum(F.col("__term_score").cast("decimal(18,6)"))
        .cast("double")
        .alias("bm25"),
        F.count(F.lit(1)).cast("int").alias("n_matched_terms"),
    )
    top = scored.orderBy(
        F.col("bm25").desc(), F.col(doc_id_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col(doc_id_col).asc())
    return top.select(
        doc_id_col,
        "bm25",
        "n_matched_terms",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-statistics projection over a documents table. The
    token array is materialized once (projection boundary) and every stat
    derives from it — not re-split per expression."""
    t = F.col(text_col)
    staged = df.withColumn("__toks", tokens(t))
    tk = F.col("__toks")
    with_stats = staged.withColumns(
        {
            "n_tokens": token_count(t, tk),
            "n_bpe_tokens": bpe_token_count(t),
            "n_chars_measured": char_count(t),
            "avg_token_len": avg_token_len(t, tk),
            "punct_ratio": punct_ratio(t),
            "stopword_ratio_en": stopword_ratio(t, "en", tk),
            "uppercase_ratio": uppercase_ratio(t),
            "predicted_lang": predicted_lang(t, tk),
            "fingerprint": normalized_fingerprint(t),
        }
    )
    # quality_score recomposed from the JUST-materialized stats — calling
    # quality_score(t, tk) here would re-expand the punct regex, stopword
    # filter, and token-length fold a second time per row (no CSE across
    # a select list). Same arithmetic on the same doubles —
    # bit-identical to the inline form (oracle-pinned).
    quality = (
        F.lit(0.25) * (F.col("n_tokens") >= 5).cast("double")
        + F.lit(0.25)
        * (
            (F.coalesce(F.col("avg_token_len"), F.lit(0.0)) >= 2.0)
            & (F.coalesce(F.col("avg_token_len"), F.lit(0.0)) <= 12.0)
        ).cast("double")
        + F.lit(0.25) * (F.col("punct_ratio") <= 0.2).cast("double")
        + F.lit(0.25) * (F.col("stopword_ratio_en") >= 0.05).cast("double")
    )
    return with_stats.withColumn("quality_score", quality).drop("__toks")


def unigram_logprob_scores(
    df: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM quality scoring with an in-corpus unigram model:
    per-doc mean token log-probability and perplexity under
    p(t) = corpus_count(t) / total_tokens (Wenzek et al. 2020 filter
    documents on LM perplexity; the reference model there is KenLM — in
    production the probability table is such an EXTERNAL dump joined the
    same way, fitting on the corpus itself keeps the op self-contained
    and oracle-checkable).

    Scale shape: tf is one explode + groupBy(doc, token) with map-side
    combine; the vocab table reuses tf (groupBy token — no second corpus
    scan); the total token count arrives via a 1-row broadcast cross
    join (no driver action); tf⋈vocab shuffles on token — deliberately
    NOT broadcast, web vocabularies are hapax-heavy and huge. The
    per-doc sum of c·ln p accumulates in DECIMAL so partition order
    cannot wiggle low-order bits, and round(6) absorbs cross-engine
    ln()/exp() ULP noise."""
    staged = df.select(doc_id_col, tokens(F.col(text_col)).alias("__toks"))
    tf = (
        staged.select(doc_id_col, F.explode("__toks").alias("token"))
        .groupBy(doc_id_col, "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = tf.groupBy("token").agg(F.sum("c").alias("cnt"))
    total = vocab.select(F.sum("cnt").cast("double").alias("__total"))
    scored = (
        tf.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp",
            (F.col("c") * F.log(F.col("cnt") / F.col("__total"))).cast(
                "decimal(28,12)"
            ),
        )
    )
    per_doc = scored.groupBy(doc_id_col).agg(
        F.sum("c").alias("n_tokens"),
        (F.sum("lp").cast("double") / F.sum("c")).alias("__avg"),
    )
    return per_doc.select(
        doc_id_col,
        "n_tokens",
        F.round("__avg", 6).alias("avg_logprob"),
        F.round(F.exp(-F.col("__avg")), 6).alias("ppl"),
    )


def sequence_packing(
    df: DataFrame,
    budget: int = 256,
    n_shards: int = 8,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence-packing assignment (concatenate-then-chunk):
    documents are concatenated in (shard, doc_id) order and cut into
    fixed ``budget``-token training windows; each doc gets its token
    offset inside the shard stream, its first/last window ids, and a
    boundary-straddle flag (the fraction of straddling docs is the
    packing-efficiency metric trainers watch).

    Scale shape: packing state is a running sum — kept scalable by
    partitioning the window on a DETERMINISTIC md5 shard of the doc id,
    never a global order-by (a single global cumsum serializes the
    corpus through one partition). Shard count is the knob: pick
    corpus_tokens / (desired partition tokens); each shard's stream is
    independent, which is exactly how multi-worker training shards
    consume the data anyway. Zero-token docs are excluded (they have no
    window to land in)."""
    tc = token_count(F.col(text_col))
    shard = (
        F.conv(F.substring(F.md5(F.col(doc_id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % n_shards
    ).cast("int")
    staged = (
        df.select(doc_id_col, tc.alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .withColumn("shard", shard)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(doc_id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return staged.select(
        doc_id_col,
        "shard",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (cum - F.col("n_tokens")).cast("long").alias("token_offset"),
        F.floor((cum - F.col("n_tokens")) / F.lit(float(budget)))
        .cast("long")
        .alias("first_window"),
        F.floor((cum - 1) / F.lit(float(budget))).cast("long").alias("last_window"),
        (
            F.floor((cum - 1) / F.lit(float(budget)))
            > F.floor((cum - F.col("n_tokens")) / F.lit(float(budget)))
        )
        .cast("int")
        .alias("straddles"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style overlapping token-window chunking: cut each document's
    whitespace-token stream into windows of ``chunk_tokens`` tokens whose
    starts advance by ``stride = chunk_tokens - overlap``; the final
    window may be shorter. One output row per (doc, chunk) with the
    reassembled chunk text.

    Chunk count is ``1 + ceil((n - chunk_tokens) / stride)`` for
    n > chunk_tokens else 1, computed as a double division truncated to
    long — identical to integer div for every token count below 2^53
    (any real document), and the oracle SQL performs the same
    truncation; empty documents emit no chunks.

    Scale: map-only — tokenize once (staged array; never re-split per
    derived expression), sequence → explode over chunk starts, slice +
    array_join per chunk. No shuffle at all; output size is
    corpus_tokens / stride rows, the expected blow-up for RAG indexing.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    staged = (
        df.select(doc_id_col, tokens(F.col(text_col)).alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    n_chunks = F.when(
        F.col("__n") <= chunk_tokens, F.lit(1)
    ).otherwise(
        1
        + (
            (F.col("__n") - chunk_tokens + (stride - 1)).cast("long")
            / F.lit(stride)
        ).cast("long")
    )
    start = (F.col("__chunk_id") * stride).cast("int")
    return (
        staged.withColumn("__nc", n_chunks)
        .select(
            doc_id_col,
            "__toks",
            "__n",
            "__nc",
            F.explode(F.sequence(F.lit(0), (F.col("__nc") - 1).cast("int"))).alias(
                "__chunk_id"
            ),
        )
        .select(
            doc_id_col,
            F.col("__chunk_id").cast("long").alias("chunk_id"),
            F.col("__nc").cast("long").alias("n_chunks"),
            F.least(F.lit(chunk_tokens), F.col("__n") - start)
            .cast("long")
            .alias("chunk_len"),
            F.array_join(
                F.slice(F.col("__toks"), start + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
    )


# Gopher's required-stopword list (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", quality-filtering appendix): a document must
# contain at least 2 of these to look like running English prose.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021): the classic
    heuristic document filter for LLM pretraining corpora. Per doc:

    * ``words_ok`` — word count in [min_words, max_words];
    * ``mean_len_ok`` — mean word length in [min_mean_len,
      max_mean_len] characters;
    * ``symbol_ok`` — '#'/ellipsis symbol-to-word ratio <= 0.1;
    * ``bullet_ok`` — <= 90% of lines start with a bullet;
    * ``ellipsis_ok`` — <= 30% of lines end with an ellipsis;
    * ``alpha_ok`` — >= 80% of words contain an alphabetic char;
    * ``stopword_ok`` — >= min_stopword_hits distinct required
      stopwords present;
    * ``keep`` — conjunction of all rules.

    Every ratio rule is expressed as an INTEGER cross-multiplication
    (hits*10 <= n_words, chars <= 10*n_words, ...) — exact in both
    engines, no float parity surface, and no division to guard (the
    ANSI zero-guard standing rule satisfied by construction: a
    zero-word doc simply fails words_ok and the multiplications stay
    defined). Map-only: the token array and line array are
    materialized once per row and every rule reads those siblings
    (no expression re-expansion — the q58 CSE lesson).
    """
    tk = tokens(F.col(text_col))
    lines = F.split(F.col(text_col), r"\n")
    staged = df.select(
        F.col(id_col),
        tk.alias("__tk"),
        lines.alias("__ln"),
        F.size(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"#|\.\.\.|…"), 0
            )
        ).alias("__sym"),
    )
    n_words = F.size("__tk")
    total_chars = F.aggregate(
        F.transform("__tk", lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha_words = F.size(
        F.filter("__tk", lambda t: t.rlike("[a-z]"))
    )
    stop_hits = F.size(
        F.array_intersect("__tk", F.lit(GOPHER_STOPWORDS))
    )
    n_lines = F.size("__ln")
    bullet_lines = F.size(
        F.filter("__ln", lambda l: F.trim(l).rlike(r"^[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(
            "__ln", lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")
        )
    )
    flags = {
        "words_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_len_ok": (total_chars >= min_mean_len * n_words)
        & (total_chars <= max_mean_len * n_words)
        & (n_words > 0),
        "symbol_ok": F.col("__sym") * 10 <= n_words,
        "bullet_ok": bullet_lines * 10 <= n_lines * 9,
        "ellipsis_ok": ellipsis_lines * 10 <= n_lines * 3,
        "alpha_ok": alpha_words * 5 >= n_words * 4,
        "stopword_ok": stop_hits >= min_stopword_hits,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return staged.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def readability_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease per document with a deterministic
    vowel-group syllable proxy: syllables(word) = max(1, number of
    [aeiouy]+ runs) — the standard dictionary-free approximation, and
    exactly reproducible in ANSI SQL (no hyphenation library).
    Sentences split on terminal punctuation + whitespace (the q98
    Java∩RE2 pattern, no lookbehind), clamped to >= 1 so punctuation-
    free fragments count as one sentence.

    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    round(6); docs with zero words are EXCLUDED (explicit empty-text
    story — a readability score of '' is meaningless, and the filter
    doubles as the ANSI division guard). Map-only, one pass; the token
    array is materialized once and each word's syllable count comes
    from one regexp_extract_all per word.
    """
    tk = tokens(F.col(text_col))
    sents = F.filter(
        F.split(F.col(text_col), r"[.!?]+\s+"),
        lambda s: F.trim(s) != "",
    )
    staged = df.select(
        F.col(id_col),
        tk.alias("__tk"),
        F.greatest(F.size(sents), F.lit(1)).alias("__ns"),
    ).filter(F.size("__tk") > 0)
    syl = F.aggregate(
        F.transform(
            "__tk",
            lambda t: F.greatest(
                F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0)),
                F.lit(1),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nw = F.size("__tk").cast("double")
    ns = F.col("__ns").cast("double")
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (nw / ns)
        - F.lit(84.6) * (F.col("__syl").cast("double") / nw)
    )
    return staged.withColumn("__syl", syl).select(
        F.col(id_col),
        F.col("__ns").cast("long").alias("n_sentences"),
        F.size("__tk").cast("long").alias("n_words"),
        F.col("__syl").alias("n_syllables"),
        F.round(fre, 6).alias("flesch"),
    )


# Line-level boilerplate phrases (C4, Raffel et al. 2020 §2.2 adapted
# to line granularity): a line mentioning any of these is navigation /
# legal chrome, not prose.
C4_BOILERPLATE = (
    "javascript",
    "cookie policy",
    "privacy policy",
    "terms of use",
    "all rights reserved",
)


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    require_terminal_punct: bool = True,
    boilerplate_patterns: tuple[str, ...] = C4_BOILERPLATE,
    drop_brace_lines: bool = True,
) -> DataFrame:
    """Line-level C4 cleaning (Raffel et al. 2020 §2.2): split each
    document on newlines, drop lines that fail the rule cascade, and
    reassemble the survivors — the per-LINE curation pass the doc-level
    Gopher battery (``gopher_quality_flags``) cannot express.

    Rules, applied as a FIRST-FAILING cascade so per-rule drop counts
    are additive (each dropped line is attributed to exactly one rule,
    in this fixed priority order):

    1. ``short`` — fewer than ``min_words`` whitespace words;
    2. ``no_punct`` — does not end (after trailing-space rtrim) in a
       terminal punctuation mark or closing double quote (C4's
       "terminal punctuation" rule; gate with
       ``require_terminal_punct=False`` for punctuation-free corpora);
    3. ``boilerplate`` — lowercased line contains any of
       ``boilerplate_patterns`` (substring match, C4's "javascript"
       rule generalized);
    4. ``brace`` — contains ``{`` or ``}`` (C4's code heuristic).

    Output per input row: ``n_lines``, ``n_kept``, per-rule drop
    counts, ``kept_words`` (the token-budget readout a curation run
    reads), and ``text_clean`` (kept lines rejoined in original order;
    ``''`` when every line drops — never NULL, so the column equi-joins
    and hashes deterministically).

    Scale: map-only. Each line is tagged ONCE with its rule code in a
    single ``transform`` into a struct array (Catalyst does not CSE
    across select-list expressions — the q58/gopher lesson), and every
    output column reads that tagged array. Zero shuffles, zero UDFs,
    whole-stage-codegen end to end: at 100 TB this is a pure scan-
    transform pass whose cost is I/O-bound.
    """

    def line_words(l: Column) -> Column:
        return F.size(F.filter(F.split(l, r"\s+"), lambda t: t != ""))

    def code(l: Column) -> Column:
        boiler = F.lit(False)
        for p in boilerplate_patterns:
            boiler = boiler | F.lower(l).contains(F.lit(p))
        c = F.when(line_words(l) < F.lit(min_words), F.lit(1))
        if require_terminal_punct:
            c = c.when(~F.rtrim(l).rlike('[.!?"]$'), F.lit(2))
        c = c.when(boiler, F.lit(3))
        if drop_brace_lines:
            c = c.when(
                l.contains(F.lit("{")) | l.contains(F.lit("}")), F.lit(4)
            )
        return c.otherwise(F.lit(0))

    tagged = df.select(
        F.col(id_col),
        F.transform(
            F.split(F.col(text_col), r"\n"),
            lambda l: F.struct(l.alias("l"), code(l).alias("c")),
        ).alias("__tg"),
    )

    def n_code(k: int) -> Column:
        return F.size(
            F.filter("__tg", lambda t: t["c"] == F.lit(k))
        ).cast("long")

    kept = F.filter("__tg", lambda t: t["c"] == F.lit(0))
    kept_words = F.aggregate(
        kept,
        F.lit(0).cast("long"),
        lambda acc, t: acc + line_words(t["l"]).cast("long"),
    )
    return tagged.select(
        F.col(id_col),
        F.size("__tg").cast("long").alias("n_lines"),
        n_code(0).alias("n_kept"),
        n_code(1).alias("n_short"),
        n_code(2).alias("n_no_punct"),
        n_code(3).alias("n_boilerplate"),
        n_code(4).alias("n_brace"),
        kept_words.alias("kept_words"),
        F.array_join(
            F.transform(kept, lambda t: t["l"]), "\n"
        ).alias("text_clean"),
    )
