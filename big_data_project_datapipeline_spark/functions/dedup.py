"""Deduplication primitives for LLM training-data pipelines.

Four tiers, all shuffle-architected for 100 TB:

- **exact**: md5 hash → groupBy(hash) keep min-id. One shuffle on a
  uniformly-distributed 128-bit key — no skew by construction.
- **MinHash + LSH**: per-doc signature of H universal-hash minima over a
  shared 31-bit md5 token hash (ONE digest per distinct token; the H
  components are integer (a·x+b) mod p transforms computed in ONE groupBy
  with H aggregate expressions — not H passes), banded into B buckets;
  candidate pairs only ever materialize within a bucket (the classic
  shingle→minhash→band→bucket-join pipeline).
- **SimHash**: 32-bit bit-majority signature over token hashes — computed
  with 32 conditional-sum aggregates in the same single groupBy pattern.
- **n-gram Jaccard**: exact verify step on candidate pairs via
  array_intersect/array_union sizes.

Everything is built-in expressions (md5/conv/explode/groupBy) — no Python
UDFs, so the hash path stays inside codegen. md5 is used (not xxhash64)
because it is bit-identical across Spark and DuckDB/standard SQL, making
every step oracle-checkable.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.text import tokens
from big_data_project_datapipeline_spark.operators.caching import (
    attach_cache_release,
)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: per md5(text) group keep the smallest id (deterministic
    keeper). Returns (keeper id, group size)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def token_hash_set(text: Column) -> Column:
    """Distinct 60-bit md5-derived token hashes. Set operations on bigint
    arrays are ~2.6× faster than on string arrays (measured), Jaccard is
    preserved (both engines hash identically, so a collision — ~2⁻⁶⁰ —
    would affect both sides the same way)."""
    return F.array_distinct(F.transform(tokens(text), hash60))


def shingles_from_tokens(toks: Column, k: int = 5) -> Column:
    """Word k-gram shingles (space-joined) from a STAGED token-array
    column. ``toks`` must be a plain column reference, not an expression:
    the lambda references it k+2 times, and Catalyst inlines a referenced
    expression tree per use — with ``tokens(text)`` inline that is k+2
    regexp splits per shingle (measured 6× slower). Per shingle: k O(1)
    ``element_at`` lookups + one concat — no per-element array allocation
    (``slice`` allocates one; measured 2× slower)."""
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    return F.when(
        F.size(toks) >= k,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def hash60(s: Column) -> Column:
    """60-bit md5-derived hash — the engine-portable digest used for
    token/shingle sets (DuckDB: CAST(('0x' || substr(md5(s),1,15)) AS
    BIGINT))."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def shingle_hash_set_from_tokens(toks: Column, k: int = 5) -> Column:
    """Distinct 60-bit hashes of the word k-gram shingles of a staged
    token-array column."""
    return F.array_distinct(F.transform(shingles_from_tokens(toks, k), hash60))


def candidate_probability(similarity: float, n_bands: int, band_size: int) -> float:
    """P(a pair becomes an LSH candidate | Jaccard = s) = 1 − (1 − s^r)^b."""
    return 1.0 - (1.0 - similarity**band_size) ** n_bands


def solve_banding(
    threshold: float,
    num_hashes: int,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
    steps: int = 200,
) -> tuple[int, int]:
    """Choose (n_bands, band_size) for a target Jaccard ``threshold`` under
    a signature budget of ``num_hashes`` components.

    Minimizes the weighted false-positive + false-negative area of the
    S-curve (midpoint-rule integral of P(s) below the threshold and
    1 − P(s) above it) over all (b, r) with b·r ≤ num_hashes. Raise
    ``fp_weight`` to avoid wasted verify work, ``fn_weight`` to avoid
    missed near-dups. Driver-side O(num_hashes · steps) — negligible.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    best: tuple[float, int, int] | None = None
    for r in range(1, num_hashes + 1):
        b = num_hashes // r
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = candidate_probability(s, b, r)
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        cost = (fp_weight * fp + fn_weight * fn) / steps
        if best is None or cost < best[0]:
            best = (cost, b, r)
    assert best is not None
    return best[1], best[2]


UH_PRIME = 2147483647  # 2^31 − 1: a·x stays under 2^62, no long overflow


def universal_hash_params(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) for the universal hash h(x) = (a·x + b) mod p,
    derived from md5 of the seed so any engine can regenerate them;
    a ∈ [1, p), b ∈ [0, p)."""
    import hashlib

    d = hashlib.md5(f"minhash-seed-{seed}".encode()).hexdigest()
    return int(d[:15], 16) % (UH_PRIME - 1) + 1, int(d[15:30], 16) % UH_PRIME


def token_hash31(tok: Column) -> Column:
    """31-bit md5-derived token hash — the shared base for all minhash
    components (ONE digest per distinct token, not one per (token, seed))."""
    return hash60(tok) % UH_PRIME


def _uh_lambda(seed: int):
    """One minhash component as a HOF lambda: universal-hash the shared
    31-bit token hash, h(x) = (a·x + b) mod p. Integer arithmetic —
    bit-identical across engines, ~16× fewer digests than seed-salted
    md5. Closure factory because default-arg lambdas trip Spark 4's
    lambda-arity inspection."""
    a, b = universal_hash_params(seed)
    return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(UH_PRIME)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
) -> DataFrame:
    """Per-doc MinHash signature — MAP-ONLY: stage the distinct-token
    31-bit hash array once (one md5 per distinct token), then each of the
    ``num_hashes`` components is array_min(transform(·)) over that staged
    array. Zero shuffles — the earlier explode + groupBy-with-H-min-aggs
    form paid a full shuffle of every (doc, token) row for the same
    result (measured 1.3–1.6× slower at sf0.1, bit-identical output).
    The HOF lambdas run interpreted (outside codegen), but that costs
    far less than shuffling the exploded token stream; signature values
    are unchanged, so every downstream oracle stays green.

    The terminal ``repartition(id)`` is deliberate: LSH consumers branch
    the signature frame (bucket-min agg + join back), and without an
    exchange between the scan and the branch point Spark recomputes the
    whole md5+transform pipeline per branch. The exchange is the
    materialization point ReusedExchange latches onto — and it now
    carries ONE 17-column row per doc instead of the ~|tokens| exploded
    rows the old groupBy form shuffled — ~150× fewer shuffled bytes at
    this corpus's token counts, which is the dominant cost at cluster
    scale. Measured at sf0.1 (interleaved best-of-3): old 1.13–1.40 s,
    map-only without the exchange 2.2 s (double compute), this form
    1.15–1.18 s — a wash locally, strictly better shuffle bytes."""
    th31 = F.transform(
        F.array_distinct(tokens(F.col(text_col))), lambda t: token_hash31(t)
    )
    staged = df.select(F.col(id_col), th31.alias("__th"))
    cols = [F.col(id_col)]
    for s in range(num_hashes):
        cols.append(
            F.array_min(F.transform(F.col("__th"), _uh_lambda(s))).alias(f"mh{s}")
        )
    return staged.select(*cols).repartition(F.col(id_col))


def banded_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 8,
) -> DataFrame:
    """(id, band, band_key) bucket rows of a MinHash signature frame —
    the banding expression of :func:`_verified_ancestors` (including
    concat_ws's NULL-skipping on all-NULL empty-doc signatures),
    exposed for index introspection (q197 bucket stats). One map-only
    explode: |bands| rows per doc."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_size + j}")
                        for j in range(band_size)
                    ],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(bands).alias("bk")
    ).select(
        id_col,
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("band_key"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    extra_block_cols: list[str] | None = None,
) -> DataFrame:
    """Band the signature (rows of ``mh{i}``) and self-join per
    (band_idx, band_key) bucket → candidate pairs (left_id < right_id).

    ``extra_block_cols`` (columns that must be present in ``signatures``)
    add metadata blocking on top of the LSH buckets: a candidate pair must
    agree on them too (classic blocked dedup, e.g. same (lang, source)).

    Scale: the join key is (band index, concatenated hash) — high
    cardinality, uniform; bucket sizes stay tiny unless docs truly collide,
    which is exactly the skew AQE's skew-join handles if a degenerate
    corpus (all-identical docs) shows up.
    """
    extra = list(extra_block_cols or [])
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    # docs with no tokens have all-NULL signatures; concat_ws skips
    # NULLs, so they would ALL share the '' band key in EVERY band — an
    # O(empty_docs^2) bucket blow-up on blank-page-heavy crawls (review
    # fix). They have no content to match on: exclude them up front.
    banded = signatures.filter(F.col("mh0").isNotNull()).select(
        F.col(id_col), *[F.col(c) for c in extra], F.explode(bands).alias("bk")
    ).select(
        id_col, *extra, F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_key") == F.col("r.band_key"),
                *[F.col(f"l.{c}") == F.col(f"r.{c}") for c in extra],
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs (the verify step after
    LSH blocking). Token sets travel with the pair via two broadcast-or-
    shuffle hash joins on the ids; sets are int-hashed for fast compares."""
    toksets = df.select(
        F.col(id_col), token_hash_set(F.col(text_col)).alias("tokset")
    )
    return (
        pairs.join(toksets.withColumnRenamed(id_col, "left_id").withColumnRenamed("tokset", "l_toks"), "left_id")
        .join(toksets.withColumnRenamed(id_col, "right_id").withColumnRenamed("tokset", "r_toks"), "right_id")
        .select(
            "left_id",
            "right_id",
            # zero-union guard: two empty-token docs would otherwise
            # abort the job under ANSI mode — define their
            # similarity as 0.0. nullif, NOT when(size>0, ...): the when
            # form evaluates array_union TWICE per candidate pair and
            # was measured 2x slower on the verify step.
            F.coalesce(
                F.size(F.array_intersect("l_toks", "r_toks")).cast("double")
                / F.nullif(
                    F.size(F.array_union("l_toks", "r_toks")), F.lit(0)
                ),
                F.lit(0.0),
            ).alias("jaccard"),
        )
    )


def _verified_ancestors(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """Threshold-independent candidate-ancestor verify (the shared core
    of :func:`minhash_dedup_decision` and :func:`dedup_yield_curve`):
    band the signatures, bucket-min union-find approximation, exact
    Jaccard verify of the <= n (doc -> ancestor) pairs. Returns
    (left_id, right_id, jaccard) with RAW (unrounded) jaccard — the
    column decisions compare against."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes)
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key")
    )
    bucket_min = banded.groupBy("band", "band_key").agg(
        F.min(id_col).alias("bucket_min")
    )
    anc = (
        banded.join(bucket_min, ["band", "band_key"])
        .groupBy(id_col)
        .agg(F.min("bucket_min").alias("candidate_ancestor"))
    )
    cand_pairs = anc.filter(F.col("candidate_ancestor") < F.col(id_col)).select(
        F.col("candidate_ancestor").alias("left_id"), F.col(id_col).alias("right_id")
    )
    return jaccard_pairs(df, cand_pairs, text_col, id_col)


def minhash_dedup_decision(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int | None = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Scalable near-dup dedup: per-doc keep/drop decision, O(n) output.
    ``band_size=None`` auto-solves (b, r) for the threshold.

    Emitting all near-dup *pairs* is O(cluster²) — on a corpus where a
    cluster holds k near-identical docs that's k²/2 rows of pure overhead
    (the driver testdata is exactly this degenerate: ~2M pairs from 5k
    docs). What a dedup pipeline actually needs is one decision per doc:

    1. band the MinHash signature; bucket key = (band idx, band hash);
    2. bucket representative = MIN(id) per bucket (one groupBy);
    3. per doc, candidate ancestor = MIN over its buckets' representatives
       (second groupBy) — a one-pass union-find approximation;
    4. exact-Jaccard verify ONLY the (doc → ancestor) pairs — ≤ n pairs;
    5. doc is kept unless a verified ancestor with smaller id exists.

    Total cost: one explode, two hash aggs, one bounded verify join — every
    shuffle key uniform. Returns (id, dup_of, jaccard, is_kept) for all docs.
    """
    if band_size is None:
        _, band_size = solve_banding(threshold, num_hashes)
    verified = _verified_ancestors(df, text_col, id_col, num_hashes, band_size)
    return (
        df.select(id_col)
        .join(
            verified.select(
                F.col("right_id").alias(id_col),
                F.col("left_id").alias("_anc"),
                "jaccard",
            ),
            on=id_col,
            how="left",
        )
        .select(
            id_col,
            F.when(F.col("jaccard") >= threshold, F.col("_anc")).alias("dup_of"),
            F.round("jaccard", 6).alias("jaccard"),
            F.when(F.col("jaccard") >= threshold, F.lit(0))
            .otherwise(F.lit(1))
            .alias("is_kept"),
        )
    )


def dedup_yield_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 8,
    thresholds: Sequence[float] = (0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Near-dup threshold sweep: for each candidate Jaccard threshold,
    the doc- and token-level yield the corpus would keep — the tuning
    curve a pipeline reads BEFORE fixing its dedup threshold (too low
    burns good data, too high ships near-dup clusters into training).

    Exactness: :func:`minhash_dedup_decision`'s candidate-ancestor
    selection is threshold-INDEPENDENT (bucket-min union-find, then
    one exact-Jaccard verify per doc), so the docs dropped at
    threshold t are exactly the docs whose verified ancestor jaccard
    is >= t — the curve is the true per-threshold decision yield, not
    a sample. Threshold compares are IEEE-exact cross-engine (same
    division, same literal).

    Scale shape: signatures -> LSH -> verify run ONCE (the O(n)
    decision path); the sweep itself is ONE conditional aggregate
    (2·|thresholds| sums, map-side combinable) collapsing to a single
    row, then a map-only explode to O(|thresholds|) output rows.
    Adding thresholds costs columns, not passes.
    """
    verified = _verified_ancestors(
        df, text_col, id_col, num_hashes, band_size
    )
    # RAW jaccard (not the decision surface's round(6) copy): the drop
    # decision at threshold t compares the exact verify division, so
    # the curve and minhash_dedup_decision(threshold=t) agree bit-wise
    # — and so does the oracle's unrounded compare.
    per_doc = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("__ntok"),
    ).join(
        verified.select(F.col("right_id").alias(id_col), "jaccard"),
        id_col,
        "left",
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("__ntok"), F.lit(0)).cast("long").alias("n_tokens"),
    ]
    for i, t in enumerate(thresholds):
        hit = F.col("jaccard") >= F.lit(float(t))
        aggs.append(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(f"__d{i}")
        )
        aggs.append(
            F.sum(F.when(hit, F.col("__ntok")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"__t{i}")
        )
    one = per_doc.agg(*aggs)
    row = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(float(t)).alias("threshold"),
                    F.col(f"__d{i}").alias("nd"),
                    F.col(f"__t{i}").alias("nt"),
                )
                for i, t in enumerate(thresholds)
            ]
        )
    )
    # empty-corpus contract: SUMs over zero rows are NULL — coalesce to
    # zero counts so the curve still reports its 5 threshold rows (a
    # GROUP-BY SQL mirror emits zero rows instead; gate corpora are
    # non-empty, and the divergence is pinned in the unit test)
    nd = F.coalesce(F.col("r.nd"), F.lit(0).cast("long"))
    nt = F.coalesce(F.col("r.nt"), F.lit(0).cast("long"))
    return one.select("n_docs", "n_tokens", row.alias("r")).select(
        F.col("r.threshold").alias("threshold"),
        F.col("n_docs"),
        nd.alias("n_dup_docs"),
        F.round(
            (F.col("n_docs") - nd).cast("double")
            / F.nullif(F.col("n_docs").cast("double"), F.lit(0.0)),
            6,
        ).alias("docs_kept_frac"),
        F.col("n_tokens"),
        nt.alias("n_dup_tokens"),
        F.round(
            (F.col("n_tokens") - nt).cast("double")
            / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
            6,
        ).alias("tokens_kept_frac"),
    )


def resolve_dup_clusters(
    decision: DataFrame,
    id_col: str = "doc_id",
    parent_col: str = "dup_of",
    max_iters: int = 30,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Resolve transitive duplicate chains (a←b←c) to one root
    representative per cluster via pointer jumping: each round replaces a
    node's parent with its grandparent, halving chain depth — O(log d)
    rounds for chains of depth d, each round one self-join shuffle on the
    id. The iterative driver loop is the Spark shape of connected
    components on a parent forest (``dup_of`` always points to a smaller
    id, so the graph is acyclic and the root is the cluster minimum).

    Input: ``minhash_dedup_decision`` output — (id, dup_of|null).
    Output: (id, cluster_root); singletons are their own root. For general
    graphs (not forests) use alternating large-star/small-star; a parent
    forest never needs it.

    Plan-growth cap: with plain ``.cache()`` per
    round the plan cannot stay bounded EITHER way — leak the caches
    and each round's stored plan nests the previous round's
    InMemoryRelation (q119 reached 260 plan-string Exchanges by round
    6); unpersist them correctly and Spark re-inlines the unpersisted
    relation's full lineage into every dependent cached plan, which
    DOUBLES per round through the self-join (measured 1036 Exchanges
    on the same q119). ``localCheckpoint`` (default: every round)
    escapes the dilemma: the state truncates to an O(1) LogicalRDD
    leaf, the plan stays constant-size at any depth, and the old
    rounds' checkpoint storage is freed by the ContextCleaner on GC
    with no cache-manager interaction at all. The round is
    materialized by the convergence probe either way, so the eager
    checkpoint costs no extra pass. localCheckpoint is executor-local
    (not recomputable on executor loss) — on an unreliable cluster
    swap in ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``.
    ``checkpoint_every=0`` keeps the all-cache shape (test hook).

    Raises ``ValueError`` when the fixpoint is not reached within
    ``max_iters`` rounds instead of returning silently non-canonical
    roots — with pointer jumping that means a >2^30-deep
    chain or a cyclic (non-forest) input.
    """
    parent = decision.select(
        F.col(id_col),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("p"),
    ).cache()
    stored = parent  # the frame actually holding cache/checkpoint storage
    for i in range(max_iters):
        grand = (
            parent.alias("a")
            .join(
                parent.alias("b"),
                F.col("a.p") == F.col(f"b.{id_col}"),
                "left",
            )
            .select(
                F.col(f"a.{id_col}").alias(id_col),
                F.coalesce(F.col("b.p"), F.col("a.p")).alias("p"),
                F.col("a.p").alias("old_p"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            grand = grand.localCheckpoint()  # eager: truncates lineage
        else:
            grand = grand.cache()
        # convergence probe rides on the same stored frame — no extra join
        changed = grand.filter(F.col("p") != F.col("old_p")).limit(1).count()
        # Release the PREVIOUS round's cache. Only safe because grand is
        # checkpointed (a LogicalRDD leaf, no cache-manager dependency):
        # unpersisting a relation that a DEPENDENT CACHED plan reads
        # triggers the re-inlining blowup documented above. Also note
        # unpersist must target the frame that OWNS the cache entry — a
        # select() over it is a cache-manager no-op (unpersisting the
        # select would leak every round's cache).
        stored.unpersist()
        stored = grand
        parent = grand.select(id_col, "p")
        if changed == 0:
            break
    else:
        raise ValueError(
            f"resolve_dup_clusters(): chains did not resolve within "
            f"max_iters={max_iters} pointer-jumping rounds — returned "
            "roots would be silently non-canonical. A "
            "parent forest resolves in ~log2(chain depth) rounds, so "
            "this indicates either a pathological >2^30-deep chain "
            "(raise max_iters) or a CYCLIC input that is not a "
            "forest — use operators.graph.connected_components."
        )
    return parent.select(F.col(id_col), F.col("p").alias("cluster_root"))


def cluster_aware_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 8,
    threshold: float = 0.8,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Leakage-free train/val/test split at NEAR-DUP-CLUSTER
    granularity: the split key is the md5 bucket of the cluster ROOT
    (resolve_dup_clusters over minhash_dedup_decision), so
    near-identical documents can never straddle train and eval — the
    contamination a doc-level (or even source-level, when near-dups
    cross sources) split ships silently. Singletons are their own
    cluster and split independently; the bucket device is the q66
    deterministic md5 dyadic split, applied to the root id.

    Scale shape: the O(n)-decision dedup path + pointer-jumping
    cluster resolve (both checkpoint-bounded), then one map-only
    bucket projection — no shuffle beyond the dedup pipeline's own.
    """
    decision = minhash_dedup_decision(
        df, text_col, id_col, num_hashes, band_size, threshold
    )
    clusters = resolve_dup_clusters(decision, id_col=id_col)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster_root").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 100
    )
    return clusters.select(
        F.col(id_col),
        "cluster_root",
        bucket.alias("bucket"),
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash signature: per bit, majority vote of token-hash bits.

    Token hash = first 8 hex chars of md5 → 32-bit int (via conv). Bit j of
    the signature is 1 iff more token hashes have bit j set than not. One
    explode + one groupBy with ``bits`` conditional sums.
    """
    exploded = (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        )
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    per_doc = exploded.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return per_doc.select(F.col(id_col), sig.cast("long").alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of xor — bit_count is native in Spark ≥3.4 and DuckDB."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    max_distance: int = 3,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT SimHash near-duplicate pairs: all (id_a < id_b) with
    hamming(simhash_a, simhash_b) <= max_distance — the Manku/Jain/
    Sarma 2007 web-dedup shape ("Detecting Near-Duplicates for Web
    Crawling"). Unlike the MinHash-LSH path (recall-bounded), the
    block-index here is COMPLETE by pigeonhole: split the signature
    into max_distance+1 bit-blocks; any pair within distance d differs
    in at most d blocks, so at least one block matches exactly. Every
    true pair is a candidate, the popcount verify is exact, and the op
    is SQL-oracle-checkable end-to-end.

    Returns (id_a, id_b, hamming) pairs.

    Scale shape: the signature frame is O(docs); candidates come from
    an equi-join on (block_idx, block_value) — never an all-pairs
    cross. Near-identical boilerplate collapses into hot block-value
    buckets; AQE skew-join splits those, and a production run would cap
    per-bucket size (dropping a bucket only merges docs ALREADY known
    near-identical — same argument as the LSH bucket cap). The
    multi-block candidate dup (a pair matching on 2+ blocks) is
    removed by distinct BEFORE the popcount verify."""
    if bits % (max_distance + 1) != 0:
        raise ValueError("bits must divide into max_distance+1 blocks")
    n_blocks = max_distance + 1
    width = bits // n_blocks
    mask = (1 << width) - 1
    sigs = simhash(df, text_col=text_col, id_col=id_col, bits=bits)
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.blk").alias("blk"), F.col("bk.val").alias("val"))
    left = blocks.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sig_a"),
        "blk",
        "val",
    )
    right = blocks.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sig_b"),
        "blk",
        "val",
    )
    # Popcount-verify BEFORE the pair-dedup distinct: the verify is a
    # cheap map-side expression, and filtering first means the distinct
    # shuffle carries only true near-dup pairs (x block multiplicity)
    # instead of every candidate — measured 2x less shuffle on the
    # synthetic corpus. hamming is deterministic per pair, so distinct
    # on (id_a, id_b, hamming) == distinct-then-verify.
    ham = hamming_distance(F.col("sig_a"), F.col("sig_b"))
    return (
        left.join(right, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def word_chunks(toks: Column, k: int = 3) -> Column:
    """Non-overlapping k-word chunks with their 0-based position:
    ``array<struct<pos:int, chunk:string>>`` (last chunk may be short).

    Map-only construction (transform + slice over a staged token array) —
    the CCNet "paragraph" unit generalized to fixed word windows, since
    the corpus here is single-line token streams with no newlines."""
    n_chunks = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(toks, i * k + 1, k), " ").alias("chunk"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,chunk:string>>"))


def substring_windows(
    base: DataFrame, id_col: str, window: int
) -> DataFrame:
    """Stride-1 ``window``-token shingles of a staged token frame
    (columns: id_col, ``toks`` array, ``n`` = size) → (id, pos, w).
    Map-only explode — the shared candidate-generation step of
    exact_substring_dedup / dup_span_coverage / streaming dedup."""
    return (
        base.filter(F.col("n") >= window)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - window),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.array_join(
                            F.slice("toks", i + 1, window), " "
                        ).alias("w"),
                    ),
                )
            ).alias("x"),
        )
        .select(
            F.col(id_col), F.col("x.pos").alias("pos"), F.col("x.w").alias("w")
        )
    )


def window_gram_firsts(
    df: DataFrame, window: int = 8, text_col: str = "text",
    id_col: str = "doc_id",
):
    """Shared prelude of the substring-dedup family: staged token frame,
    stride-1 window-grams, and the corpus-wide first-occurrence decision
    groupBy(gram).agg(count, min(struct)) — map-side combine absorbs hot
    boilerplate grams (never a per-gram row_number window). Returns
    (base, wins, firsts)."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks"))
    wins = substring_windows(base, id_col, window)
    firsts = wins.groupBy("w").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first"),
    )
    return base, wins, firsts


def scrub_marked_occurrences(
    base: DataFrame, dup_occ: DataFrame, window: int, id_col: str = "doc_id"
) -> DataFrame:
    """Shared scrub + reassembly of the substring-dedup family: expand
    each duplicate window occurrence (id, pos) to its covered token
    positions (overlaps merge via distinct), mark them on the
    position-exploded token stream, and reassemble per doc. Output:
    (id, n_tokens, n_removed, text_dedup)."""
    removed = dup_occ.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + window - 1)
        ).alias("tpos"),
    ).distinct()
    tok_pos = base.select(
        F.col(id_col), F.posexplode("toks").alias("tpos", "tok")
    ).withColumn("tpos", F.col("tpos").cast("long"))
    marked = tok_pos.join(
        removed.withColumn("rm", F.lit(True)), [id_col, "tpos"], "left"
    )
    return marked.groupBy(id_col).agg(
        F.count("tok").alias("n_tokens"),
        F.coalesce(F.sum(F.col("rm").cast("long")), F.lit(0)).alias(
            "n_removed"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rm").isNull(), F.struct("tpos", "tok"))
                    )
                ),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text_dedup"),
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Corpus-level EXACT-SUBSTRING dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): any token span of length ``window`` that occurs more
    than once ANYWHERE in the corpus is removed from every occurrence
    except the first, where "first" is the minimal (doc_id, pos). Unlike
    doc-level (q20) or chunk-level (q61) dedup this catches duplicated
    spans that cross chunk boundaries or sit inside otherwise-unique
    documents — the memorization vector the paper targets.

    Relational re-expression of their suffix-array pass: sliding
    ``window``-token shingles at stride 1 play the role of the
    length-threshold match (two docs share a duplicated substring of
    length ≥ window iff they share a window-gram), the keep/drop
    decision is a corpus-wide groupBy, and removed spans are the union
    of covered token positions of every non-first duplicate occurrence
    (overlapping spans merge via the position-set distinct).

    100 TB shape (the q61 budget): window explode is map-only over a
    staged token array; the first-occurrence decision is
    groupBy(gram).agg(count, min(struct)) — map-side combine absorbs
    hot boilerplate grams, never a row_number window partitioned by
    gram; join-back is gram-keyed; the covered-position explode is
    bounded by window × dup occurrences; reassembly is one per-doc
    aggregate. At scale, key the gram shuffle on xxhash64(gram) to cut
    shuffle bytes (raw strings kept here for oracle bit-parity).

    Output per doc (docs with no tokens drop, as in chunk_dedup):
    (doc_id, n_tokens, n_removed, text_dedup).
    """
    base, wins, firsts = window_gram_firsts(df, window, text_col, id_col)
    dup_occ = (
        wins.join(firsts, "w")
        .filter(
            (F.col("cnt") >= 2)
            & ~(
                (F.col(id_col) == F.col(f"first.{id_col}"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select(F.col(id_col), F.col("pos"))
    )
    return scrub_marked_occurrences(base, dup_occ, window, id_col)


def dup_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    window: int = 8,
) -> DataFrame:
    """Corpus duplication-coverage report — the diagnostic a pipeline
    operator reads BEFORE deciding how aggressively to dedup (the
    RefinedWeb/Gopher-style "how much of this crawl is boilerplate"
    number): per ``group_col``, the fraction of token positions covered
    by any ``window``-gram that occurs ≥ 2 times corpus-wide (ALL
    occurrences count, including the first — unlike q99's removal,
    which spares firsts) and the fraction of documents touched.

    Same 100 TB budget as exact_substring_dedup: map-only window
    explode, one map-side-combinable groupBy(gram) for the counts, a
    gram-keyed join back, a bounded covered-position explode, and two
    small aggregates. Output per group: (group, n_docs, total_tokens,
    dup_tokens, dup_token_frac, docs_affected, docs_affected_frac).
    """
    base = df.select(
        F.col(id_col), F.col(group_col), tokens(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks"))
    wins = substring_windows(base, id_col, window)
    counts = wins.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    covered = (
        wins.join(counts, "w")
        .filter(F.col("cnt") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + window - 1)
            ).alias("tpos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    per_doc = base.join(covered, id_col, "left").select(
        F.col(group_col),
        F.col("n").cast("long").alias("n_tokens"),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
    )
    return per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("dup_tokens").alias("dup_tokens"),
        F.round(
            F.when(
                F.sum("n_tokens") > 0,
                F.sum("dup_tokens") / F.sum("n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_token_frac"),
        F.sum((F.col("dup_tokens") > 0).cast("long")).alias("docs_affected"),
        F.round(
            F.sum((F.col("dup_tokens") > 0).cast("long")) / F.count(F.lit(1)),
            6,
        ).alias("docs_affected_frac"),
    )


def chunk_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Corpus-wide keep-first chunk dedup — CCNet-style paragraph dedup
    (Wenzek et al. 2020: hash every paragraph, drop repeats corpus-wide,
    keep one copy) re-expressed over non-overlapping k-word chunks.

    An instance (doc, pos, chunk) survives iff it is the FIRST occurrence
    of that chunk in (doc_id, pos) order; surviving chunks are re-joined
    in position order into ``text_dedup``. Output per doc: text_dedup,
    n_chunks, n_kept.

    100 TB shape: explode is map-only; the first-occurrence decision is a
    groupBy(chunk).min(struct(id, pos)) — map-side partial aggregation
    absorbs hot chunks (a boilerplate chunk repeated 1e9× combines to one
    row per map task), which is why this is a groupBy + join back rather
    than a row_number window (a window partitioned by chunk would put the
    hot chunk's every instance in ONE partition). At scale, key the
    shuffle on a 64-bit hash of the chunk instead of the raw string to
    cut shuffle bytes (raw strings kept here for oracle bit-parity and
    because short-chunk corpora measure faster without the extra md5)."""
    inst = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .select(F.col(id_col), F.explode(word_chunks(F.col("toks"), k)).alias("c"))
        .select(F.col(id_col), F.col("c.pos").alias("pos"), F.col("c.chunk").alias("chunk"))
    )
    firsts = inst.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first")
    )
    flagged = inst.join(firsts, "chunk").withColumn(
        "kept",
        (F.col(id_col) == F.col(f"first.{id_col}"))
        & (F.col("pos") == F.col("first.pos")),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("pos", "chunk")))
                ),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
    )


def collapsed_near_duplicates(
    df: DataFrame,
    max_distance: int = 3,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-clone collapse BEFORE pairwise near-dup — the stage order
    CCNet/RefinedWeb pipelines use, and the measured mitigation for the
    quadratic clone blow-up documented in SCALING.md ("Measured decade
    scale-up": pairwise SimHash spilled 28.7 GB at 10x on a clone-heavy
    corpus because every organic near-pair multiplies by
    clones_a x clones_b).

    Byte-identical texts group on md5 (NULL text keyed separately —
    never aliased to the empty string's md5);
    the min-id member represents the group; the COMPLETE pigeonhole
    SimHash pair search (simhash_near_duplicates) runs over
    REPRESENTATIVES only; each side carries its clone-group size so
    coverage math (pairs x clones_a x clones_b) needs no pair
    expansion. Output: (id_a, id_b, hamming, clones_a, clones_b),
    ids ascending within the pair.

    Scale shape: one md5 groupBy (skew-free — uniform hash keys), one
    id-equi-join to fetch representative text deterministically (never
    first()-nondeterminism), then the near-dup op's equi-join index.
    Pair output is quadratic only in DISTINCT near-dup texts, no
    longer in clone multiplicity.
    """
    fp = F.coalesce(F.md5(F.col(text_col)), F.lit("__null_text__"))
    groups = df.groupBy(fp.alias("__fp")).agg(
        F.min(F.col(id_col)).alias(id_col),
        F.count(F.lit(1)).cast("long").alias("n_clones"),
    )
    reps = groups.select(id_col, "n_clones").join(
        df.select(id_col, text_col), id_col
    )
    pairs = simhash_near_duplicates(
        reps,
        max_distance=max_distance,
        bits=bits,
        text_col=text_col,
        id_col=id_col,
    )
    ca = groups.select(
        F.col(id_col).alias("id_a"), F.col("n_clones").alias("clones_a")
    )
    cb = groups.select(
        F.col(id_col).alias("id_b"), F.col("n_clones").alias("clones_b")
    )
    return pairs.join(ca, "id_a").join(cb, "id_b").select(
        "id_a", "id_b", "hamming", "clones_a", "clones_b"
    )


def containment_duplicates(
    df: DataFrame,
    min_containment_num: int = 4,
    min_containment_den: int = 5,
    max_shingle_df: int = 5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric containment dedup (Broder's containment coefficient):
    pairs where |A∩B| / min(|A|,|B|) >= num/den over DISTINCT word
    k-shingle sets — catches quotes, extractions and supersets that
    symmetric Jaccard misses (a 50-token doc fully embedded in a
    5000-token doc has Jaccard ~0.01 but containment 1.0, which is
    also why MinHash LSH is the WRONG blocker here: its collision
    probability tracks Jaccard). Shingles, not raw tokens: on a
    small-vocabulary corpus every token is hot and token-level sets
    carry no signal, while k-gram shingle space stays discriminative
    (the q22 lesson).

    Blocking: rare-shingle inverted index — docs sharing at least one
    shingle with document frequency in [2, max_shingle_df] become
    candidates. Complete for any pair sharing a rare shingle; pairs
    overlapping ONLY in boilerplate-class shingles are not duplicates
    in any useful sense (documented recall bound, mirrored exactly by
    the oracle). Hot shingles are EXCLUDED by construction, so no
    block exceeds C(max_shingle_df, 2) pairs — the classic ER blocking
    bound, skew-proof at any corpus size.

    The threshold is an integer cross-multiplication
    (inter * den >= num * min_size — exact, no float boundary); the
    reported containment divides in double for display only.
    Output: (id_a, id_b, inter_size, size_a, size_b, containment).
    """
    staged = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__tk")
    )
    tok = staged.select(
        "doc_id",
        F.explode(shingle_hash_set_from_tokens(F.col("__tk"), k)).alias(
            "token"
        ),
    )
    sizes = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    rare = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_shingle_df))
        .select("token")
    )
    rt = tok.join(rare, "token", "left_semi")
    cand = (
        rt.select(F.col("doc_id").alias("id_a"), "token")
        .join(rt.select(F.col("doc_id").alias("id_b"), "token"), "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a_tok = tok.select(F.col("doc_id").alias("id_a"), "token")
    b_tok = tok.select(F.col("doc_id").alias("id_b"), "token")
    inter = (
        cand.join(a_tok, "id_a")
        .join(b_tok, ["id_b", "token"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter_size"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("size_b"))
    scored = inter.join(sa, "id_a").join(sb, "id_b")
    min_sz = F.least(F.col("size_a"), F.col("size_b"))
    return scored.filter(
        F.col("inter_size") * min_containment_den >= min_containment_num * min_sz
    ).select(
        "id_a",
        "id_b",
        "inter_size",
        "size_a",
        "size_b",
        F.round(F.col("inter_size").cast("double") / min_sz.cast("double"), 6).alias(
            "containment"
        ),
    )


def allpairs_jaccard(
    df: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — the
    AllPairs device (Bayardo, Ma & Srikant, WWW 2007; the positional
    refinements are PPJoin, Xiao et al. 2008). Finds EVERY unordered
    doc pair whose distinct word-``k``-shingle-set Jaccard is >=
    num/den — no LSH recall loss (contrast q21/q22: MinHash banding is
    probabilistic, recall ~0.49 at the threshold edge), no O(block²)
    enumeration (contrast the naive blocked join).

    The device: order the shingle universe by ascending document
    frequency (rarest first; ties broken by the hash — a strict total
    order), and index each doc ONLY under its first
    n − ceil(t·n) + 1 shingles ("prefix"). Completeness is a theorem,
    not a tuning choice: for any pair with J >= t, the overlap o
    satisfies o >= ceil(t·max(nx, ny)), so the set's smallest common
    element (in the global order) cannot sit in either doc's
    (ceil(t·n) − 1)-sized suffix — it lies in BOTH prefixes, and the
    candidate join on prefix shingles finds the pair. Candidates then
    pass the length filter (den·min(nx,ny) >= num·max — J >= t is
    impossible otherwise) and an exact intersection/union verify.

    Every threshold comparison is an integer cross-multiplication
    (num·n <= den·(n − r + 1) for the prefix cut; den·inter >=
    num·union for the verify) — no float boundary anywhere, so a SQL
    engine computing plain exact Jaccard reproduces the output
    bit-for-bit (the oracle is brute force: the driver gate literally
    re-derives every pair without the device, certifying exactness).

    Scale shape: the ENTIRE op runs on the exploded (doc, shingle)
    stream — set arrays never materialize, never shuffle (the q138
    counting posture; the verify is a join-count, not array_intersect,
    and union = nl + nr − inter by inclusion-exclusion). One groupBy
    each for doc sizes and shingle DF, one per-doc-partitioned window
    to rank shingles (bounded by shingles-per-doc), a self-equi-join
    on PREFIX shingles only — by construction biased to the rarest
    shingles, so bucket fanout is O(df²) over small df (hot
    boilerplate shingles sit at the END of the canonical order and
    never enter short prefixes; residual hot keys are AQE-skew-join
    territory) — then an O(candidate × overlap) counting verify. The
    exploded stream is persisted: five branches consume it, and
    re-tokenizing the corpus per branch is the dominant cost
    otherwise (staging also guards the shingle lambda's k+2 token
    references from CollapseProject inlining the regexp split —
    measured 20.8 s → 2.9 s at sf0.1 for the materialization).
    Shingles, not unigram tokens, for the q138 reason: on a
    small-vocabulary corpus token sets are non-discriminative (unigram
    J >= 0.6 holds for ~57% of ALL pairs at sf0.1 — measured — so the
    OUTPUT itself would be quadratic; k-gram shingle space keeps true
    pairs ~linear).

    Output: (left_id, right_id, inter_size, union_size, jaccard)
    with jaccard rounded 6 for display; the filter is exact-integer.
    """
    num, den = int(threshold_num), int(threshold_den)
    if not 0 < num <= den:
        raise ValueError("threshold must satisfy 0 < num/den <= 1")
    # Repartition the raw (id, text) projection BEFORE tokenizing: the
    # per-doc regexp+md5 work is the op's CPU hot spot and is
    # doc-length-skewed, so balance it across the cluster up front (one
    # ~1x-text shuffle, small next to the 5x-text exploded persist it
    # feeds). Locally this also frees the tokenize from the input file's
    # split count (measured 4.0 s -> 0.8 s at sf0.1 on a 1-split file).
    staged = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__tx"))
        .repartition(F.col("doc_id"))
        .select("doc_id", tokens(F.col("__tx")).alias("__tk"))
    )
    tok = staged.select(
        "doc_id",
        F.explode(shingle_hash_set_from_tokens(F.col("__tk"), k)).alias("tok"),
    ).persist()
    # Eager-materialize the cache before fanning out (the pagerank
    # nodes.count() device): four downstream branches consume tok, and
    # lazily they race to compute the same partitions concurrently
    # inside one job (BlockManager "already exists" warnings, ~3x the
    # tokenize cost at sf0.1) — one bounded O(1)-output action warms
    # the cache once; warm-session runs land at ~3.1 s vs 12.3 s with
    # the lazy race.
    tok.count()
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id")
    w = wdoc.orderBy("df", "tok")
    # per-doc size rides the SAME shuffle as the rank window (a count
    # over the unordered doc partition) — no separate groupBy branch.
    ranked = tok.join(dfreq, "tok").select(
        "doc_id",
        F.count(F.lit(1)).over(wdoc).cast("long").alias("n"),
        "tok",
        F.row_number().over(w).alias("r"),
    )
    # r <= n - ceil(t·n) + 1  ⟺  num·n <= den·(n − r + 1): the ceil
    # folds away because the RHS is an integer — zero divisions, no
    # float threshold anywhere.
    prefix = ranked.filter(
        F.lit(num) * F.col("n") <= F.lit(den) * (F.col("n") - F.col("r") + 1)
    )
    lhs = prefix.select(
        F.col("doc_id").alias("left_id"), F.col("n").alias("nl"), "tok"
    )
    rhs = prefix.select(
        F.col("doc_id").alias("right_id"), F.col("n").alias("nr"), "tok"
    )
    cand = (
        lhs.join(rhs, "tok")
        .filter(
            (F.col("left_id") < F.col("right_id"))
            & (
                F.lit(den) * F.least("nl", "nr")
                >= F.lit(num) * F.greatest("nl", "nr")
            )
        )
        .select("left_id", "nl", "right_id", "nr")
        .distinct()
    )
    lt = tok.select(F.col("doc_id").alias("left_id"), "tok")
    rt = tok.select(F.col("doc_id").alias("right_id"), "tok")
    inter = (
        cand.join(lt, "left_id")
        .join(rt, ["right_id", "tok"], "left_semi")
        .groupBy("left_id", "nl", "right_id", "nr")
        .agg(F.count(F.lit(1)).cast("long").alias("inter_size"))
    )
    verified = (
        inter.select(
            "left_id",
            "right_id",
            "inter_size",
            (F.col("nl") + F.col("nr") - F.col("inter_size")).alias("union_size"),
        )
        .filter(F.lit(den) * F.col("inter_size") >= F.lit(num) * F.col("union_size"))
        .select(
            "left_id",
            "right_id",
            "inter_size",
            "union_size",
            F.round(
                F.col("inter_size").cast("double")
                / F.col("union_size").cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return attach_cache_release(verified, (tok,))


def neardup_decontaminate(
    df: DataFrame,
    eval_filter,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Eval-set decontamination by NEAR-duplicate (the fuzzy complement
    of the exact n-gram screen, q56): one row per TRAINING doc with the
    best-matching eval doc's id and exact token-set Jaccard, flagged at
    ``threshold`` — paraphrased or lightly-edited benchmark leakage
    that exact n-gram overlap misses, which is how modern curation
    stacks (Dolma/Llama) actually screen eval sets.

    ``eval_filter`` is a boolean Column splitting the corpus (True =
    eval/benchmark doc). Candidates come from the SHARED MinHash band
    index (one signature pass over the whole corpus, one bucket
    equi-join of train rows against eval rows — never train × eval);
    only the bucketed candidates pay the exact-Jaccard verify
    (:func:`jaccard_pairs`). Best match per train doc is the
    deterministic (jaccard desc, eval id asc) row_number — partitioned
    by train doc, never a global window. Train docs with no candidate
    emit NULL jaccard / contaminated = false (the q21 decision shape:
    O(train) output, never a pair dump).

    Recall is the banding curve at (num_hashes, band_size) — same
    knobs and caveats as :func:`minhash_dedup_decision`; the q197
    bucket-stats audit applies to this index verbatim.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes)
    banded = banded_rows(sigs, id_col, num_hashes, band_size)
    flags = df.select(F.col(id_col), eval_filter.alias("__is_eval"))
    bt = banded.join(flags, id_col)
    evb = bt.filter(F.col("__is_eval")).select(
        F.col(id_col).alias("right_id"), "band", "band_key"
    )
    trb = bt.filter(~F.col("__is_eval")).select(
        F.col(id_col).alias("left_id"), "band", "band_key"
    )
    cand = (
        trb.join(evb, ["band", "band_key"])
        .select("left_id", "right_id")
        .distinct()
    )
    ver = jaccard_pairs(df, cand, text_col, id_col)
    w = Window.partitionBy("left_id").orderBy(
        F.desc("jaccard"), F.asc("right_id")
    )
    best = (
        ver.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("left_id").alias(id_col),
            F.col("right_id").alias("__match"),
            F.col("jaccard").alias("__j"),
        )
    )
    train = df.filter(~eval_filter).select(id_col)
    return train.join(best, id_col, "left").select(
        id_col,
        F.when(F.col("__j") >= threshold, F.col("__match")).alias(
            "contaminated_by"
        ),
        F.round("__j", 6).alias("jaccard"),
        F.coalesce(F.col("__j") >= threshold, F.lit(False)).alias(
            "contaminated"
        ),
    )
