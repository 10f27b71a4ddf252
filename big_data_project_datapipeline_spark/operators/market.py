"""Market-basket co-occurrence analytics (support / lift).

The classic "items bought together" operator over an order/line fact:
pair counts within a basket, normalized into support and lift. The
reference's pandas surface has no graph/co-occurrence op, but any
analytics engine at this surface ships one, and it is the canonical
example of a join whose cost must be bounded by BASKET size, never by
corpus size.

Scale shape: the self-join is keyed on the basket id, so each task only
pairs items WITHIN one basket — O(Σ k_b²) pairs for basket sizes k_b
(TPC-H baskets are ≤ 7 lines; retail baskets are tens). That is the
sub-quadratic blocking pattern (cf. fuzzy.blocked_levenshtein_pairs):
the full item×item cross product never exists. Item marginals are a
separate groupBy on the item key; the basket total is a 1-row frame
cross-joined via broadcast (J4 pattern). Pair→marginal joins shuffle on
the uniform item key; AQE downgrades them to broadcast when the item
dimension is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.operators.caching import (
    attach_cache_release,
)


def _pair_stats(
    lines: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int,
) -> tuple[DataFrame, DataFrame]:
    """Pair statistics of :func:`copurchase_lift`: one flat row per
    unordered item pair (item_a < item_b) co-occurring in >=
    ``min_pair_count`` baskets — ``(item_a, item_b, pair_n, n_a, n_b,
    n_baskets)``. Returns (stats frame, persisted baskets handle)."""
    # ONE shuffle on the basket key builds the per-basket distinct item
    # array (collect_set is bounded by basket size); pairs are then
    # generated MAP-SIDE from the sorted array — a self-join on the
    # basket key would shuffle the item stream twice and re-hash it in
    # the join, for the identical pair multiset.
    baskets = (
        lines.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .groupBy("basket")
        .agg(F.array_sort(F.collect_set("item")).alias("items"))
        .persist()
    )
    i = F.explode(F.sequence(F.lit(0), F.size("items") - 2)).alias("i")
    pair_stream = (
        baskets.filter(F.size("items") >= 2)
        .select("items", i)
        .select(
            F.col("items")[F.col("i")].alias("item_a"),
            F.explode(
                F.slice(
                    "items", F.col("i") + 2, F.size("items") - F.col("i") - 1
                )
            ).alias("item_b"),
        )
    )
    pairs = (
        pair_stream.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_count)
    )
    exploded_items = baskets.select(F.explode("items").alias("item"))
    marginals = exploded_items.groupBy("item").agg(
        F.count(F.lit(1)).alias("item_n")
    )
    totals = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    out = (
        pairs.join(
            marginals.select(
                F.col("item").alias("item_a"), F.col("item_n").alias("n_a")
            ),
            "item_a",
        )
        .join(
            marginals.select(
                F.col("item").alias("item_b"), F.col("item_n").alias("n_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(totals))
    )
    return out, baskets


def copurchase_lift(
    lines: DataFrame,
    basket_col: str = "basket",
    item_col: str = "item",
    min_pair_count: int = 2,
) -> DataFrame:
    """Support and lift for every unordered item pair co-occurring in at
    least ``min_pair_count`` baskets.

    support(a,b) = pairs(a,b) / n_baskets;
    lift(a,b) = support(a,b) / (support(a) * support(b))
              = pairs(a,b) * n_baskets / (baskets(a) * baskets(b)).
    Both rounded to 6 (pure double arithmetic on exact counts — engine
    reproducible given the same expression structure).
    """
    stats, baskets = _pair_stats(lines, basket_col, item_col, min_pair_count)
    result = stats.select(
        "item_a",
        "item_b",
        "pair_n",
        "n_a",
        "n_b",
        F.round(F.col("pair_n") / F.col("n_baskets"), 6).alias("support"),
        F.round(
            (F.col("pair_n") * F.col("n_baskets"))
            / (F.col("n_a") * F.col("n_b")),
            6,
        ).alias("lift"),
    )
    # The persisted per-basket arrays release with the result (auto on
    # GC, or operators.caching.release_caches) instead of pinning
    # executor memory for the session lifetime.
    return attach_cache_release(result, (baskets,))


def frequent_triples(
    lines: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    top_n: int = 50,
) -> DataFrame:
    """Top frequent unordered item TRIPLES with basket support — the
    size-3 sibling of copurchase_lift's pairs (the next Apriori level a
    recommender actually mines).

    Scale shape: the same basket device — ONE shuffle builds the sorted
    per-basket distinct-item array, then triples generate MAP-SIDE from
    index combinations over that array (a 3-way self-join on the basket
    key would shuffle the item stream three times for the identical
    multiset). Per-basket cost is C(k,3), bounded by basket size — cap
    giant baskets upstream like the pair op documents. One map-side-
    combinable count per triple, TakeOrderedAndProject head.
    """
    baskets = (
        lines.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .groupBy("basket")
        .agg(F.array_sort(F.collect_set("item")).alias("items"))
        .filter(F.size("items") >= 3)
    )
    n = F.size("items")
    # index bounds guarantee ascending sequences (Spark's sequence(a, b)
    # DESCENDS when a > b, which would emit j <= i and out-of-range
    # element_at under ANSI): i in [1, n-2], j in [i+1, n-1], k in [j+1, n]
    idx = F.sequence(F.lit(1), n - 2)
    # triples as struct(i<j<k) over the sorted array — flatten of
    # nested transforms, all JVM-side
    triples = F.flatten(
        F.transform(
            idx,
            lambda i: F.flatten(
                F.transform(
                    F.sequence(i + 1, n - 1),
                    lambda j: F.transform(
                        F.sequence(j + 1, n),
                        lambda k: F.struct(
                            F.element_at(F.col("items"), i).alias("a"),
                            F.element_at(F.col("items"), j).alias("b"),
                            F.element_at(F.col("items"), k).alias("c"),
                        ),
                    ),
                )
            ),
        )
    )
    exploded = baskets.select(F.explode(triples).alias("t")).select(
        F.col("t.a").alias("item_a"),
        F.col("t.b").alias("item_b"),
        F.col("t.c").alias("item_c"),
    )
    counts = (
        exploded.groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_count)
    )
    return counts.orderBy(
        F.desc("n_baskets"), "item_a", "item_b", "item_c"
    ).limit(top_n)


def item_item_cosine(
    lines: DataFrame,
    basket_col: str = "basket",
    item_col: str = "item",
    min_pair_count: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """Item-item cosine similarity over basket co-occurrence — the
    collaborative-filtering "customers also bought" score:
    cos(a,b) = pairs(a,b) / sqrt(baskets(a) · baskets(b)), i.e. the
    cosine of the two items' binary basket-incidence vectors. The
    complement of :func:`copurchase_lift`: lift normalizes by
    independence (rewards rare-with-rare), cosine by vector length
    (stable for recommendation ranking where lift explodes on
    low-support pairs).

    Composes the lift operator's one-shuffle pair device verbatim —
    pair counts and marginals are the identical frame; only the
    closing normalization differs. The ``top_k`` cut is
    TakeOrdered over the total order (cosine desc, item_a, item_b) —
    no global sort materialized, and the tie-break makes the kept SET
    engine-reproducible (counts are exact, sqrt/division is one
    correctly-rounded IEEE chain on integer-valued doubles).
    """
    scored = copurchase_lift(
        lines, basket_col, item_col, min_pair_count=min_pair_count
    ).select(
        "item_a",
        "item_b",
        "pair_n",
        "n_a",
        "n_b",
        (
            F.col("pair_n").cast("double")
            / (
                F.sqrt(F.col("n_a").cast("double"))
                * F.sqrt(F.col("n_b").cast("double"))
            )
        ).alias("__cos"),
    )
    return (
        scored.orderBy(F.desc("__cos"), "item_a", "item_b")
        .limit(top_k)
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "n_a",
            "n_b",
            F.round(F.col("__cos"), 6).alias("cosine"),
        )
    )


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D skyline (Pareto front, Börzsönyi 2001), both dimensions
    MINIMIZED: the rows no other row dominates (q dominates p iff
    q.x <= p.x, q.y <= p.y, and strictly better in at least one) —
    the multi-objective shortlist a single-score ranking cannot give
    (every weighted sum of x and y picks its optimum FROM the
    skyline). Exact duplicates are mutually non-dominating and all
    survive.

    Scale shape: never the definitional O(n²) dominance self-join —
    the 2-D front is a SWEEP: collapse to the per-x minimum
    (map-side-combinable, O(distinct x)), take the strict-prefix
    minimum of y over x-ascending order
    (operators/prefix.partitioned_prefix_strict_min — ONE range
    exchange, no global window), and keep a row iff it achieves its
    x's minimum y AND beats every smaller-x minimum. One join back to
    the input on x. O(n log n) work at any scale.

    Parity: membership is decided by comparisons of engine-identical
    doubles, so the kept SET matches the definitional NOT-EXISTS SQL
    (the oracle runs that quadratic form — different algorithm,
    provably the same function; the q202 frontier-vs-fold pairing).
    NULL/NaN in either dimension drops the row (unordered under
    dominance).
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        partitioned_prefix_strict_min,
    )

    xc, yc = F.col(x_col), F.col(y_col)
    clean = df.filter(
        xc.isNotNull()
        & ~F.isnan(xc.cast("double"))
        & yc.isNotNull()
        & ~F.isnan(yc.cast("double"))
    )
    px = clean.groupBy(x_col).agg(F.min(y_col).alias("__ymin"))
    pm = partitioned_prefix_strict_min(
        px, [x_col], "__ymin", out_col="__pmin"
    )
    j = clean.join(pm, x_col)
    return j.filter(
        (yc == F.col("__ymin"))
        & (F.col("__pmin").isNull() | (yc < F.col("__pmin")))
    ).select(*df.columns)
