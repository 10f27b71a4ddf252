"""Mergeable sketch primitives with CROSS-ENGINE DETERMINISM.

Spark ships HLL/quantile sketches (q94 uses them, gated by
approx-vs-exact error properties, because their register internals are
engine-private and can never hash-match an oracle). This module takes
the other route: build the sketches from EXPLICIT md5-derived registers
so the full sketch state — not just a property of it — is bit-identical
in any engine that can compute md5, and the driver's value-hash gate
certifies the estimator itself.

Why sketches at all: at 100 TB you cannot keep per-key state for
cardinality ("distinct users per segment") or frequency ("is this key a
heavy hitter") questions. Both sketches here are FIXED-SIZE per group
and MERGEABLE — HLL registers merge by elementwise max, count-min
counters by elementwise sum — so per-partition/per-day/per-shard states
combine associatively into the global answer (the property that makes
them streamable and shard-parallel; pinned by unit tests).

- **HyperLogLog** (Flajolet et al. 2007): 60-bit md5 hash; top ``p``
  bits pick one of m = 2^p buckets, the register keeps the max
  leading-zero rank of the remaining q = 60 − p bits. The harmonic-mean
  estimate Σ 2^−R is accumulated as the EXACT integer Σ 2^(q+1−R)
  (≤ m·2^(q+1), fits a long), so the only IEEE ops are the final
  division and the small-range ln correction — order-independent by
  construction, no decimal rounding anywhere.
- **Count-min** (Cormode & Muthukrishnan 2005): ``depth`` Carter-Wegman
  universal hash rows (the shared dedup.universal_hash_params family)
  over ``width`` counters; point lookup = min over rows, which can only
  OVERestimate (collisions add, never subtract) — the one-sided error
  that makes CM safe for keep/drop thresholds.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_project_datapipeline_spark.functions.dedup import (
    UH_PRIME,
    universal_hash_params,
)
from big_data_project_datapipeline_spark.operators.caching import (
    attach_cache_release,
)
from big_data_project_datapipeline_spark.session import local_frame


def key_hash60(key: Column) -> Column:
    """Engine-portable 60-bit hash of any key column: md5 of its string
    rendering (DuckDB: CAST(('0x' || substr(md5(CAST(k AS VARCHAR)),
    1, 15)) AS BIGINT)). Uniform, deterministic, identical everywhere
    md5 is."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def hll_alpha(p: int) -> float:
    """Flajolet's bias-correction constant for m = 2^p registers."""
    m = 1 << p
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    p: int = 6,
) -> DataFrame:
    """The COMPLETE per-group HLL register frame (group..., bucket, r):
    m = 2^p rows per group, r = max leading-zero rank observed in the
    bucket (0 for never-hit buckets). This frame IS the mergeable
    sketch state: registers of a union are the elementwise MAX of the
    parts' registers (pinned by test) — ship it between shards/days
    and re-estimate after a max-merge.

    Scale shape: one map-side-combinable groupBy on (group, bucket) —
    max() partials combine per partition, so the shuffle carries at
    most m rows per (partition, group) no matter the row count — then
    the O(groups × m) grid completion. Duplicates need no pre-distinct
    pass: a repeated key recomputes the same rank and max() absorbs it.

    Rank device, all exact integer: bucket = h div 2^q (top p bits),
    w = h mod 2^q, rank = q − bitlength(w) + 1 with w = 0 → q + 1;
    bitlength via length(bin(w)) — Spark and DuckDB both render
    minimal binary strings (verified), so the registers are
    bit-identical across engines.
    """
    gcols = list(group_cols)
    q = 60 - p
    m = 1 << p
    two_q = 1 << q
    h = key_hash60(F.col(key_col))
    staged = df.filter(F.col(key_col).isNotNull()).select(
        *gcols, h.alias("__h")
    )
    wrem = F.col("__h") % F.lit(two_q)
    rank = F.when(wrem == 0, F.lit(q + 1)).otherwise(
        F.lit(q) - F.length(F.bin(wrem)) + 1
    )
    # bucket = top p bits via shiftright — NOT `/`, which is double
    # division in Spark and loses exactness past 2^53
    regs = (
        staged.select(
            *gcols,
            F.shiftright(F.col("__h"), q).cast("int").alias("bucket"),
            rank.cast("int").alias("__rk"),
        )
        .groupBy(*gcols, "bucket")
        .agg(F.max("__rk").alias("r"))
    )
    grid = (
        regs.select(*gcols)
        .distinct()
        .select(
            *gcols,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket"),
        )
    )
    return grid.join(regs, [*gcols, "bucket"], "left").select(
        *gcols,
        "bucket",
        F.coalesce(F.col("r"), F.lit(0)).cast("int").alias("r"),
    )


def hll_estimate(
    regs: DataFrame,
    group_cols: Sequence[str] = (),
    p: int = 6,
) -> DataFrame:
    """Harmonic-mean cardinality estimate from a COMPLETE register
    frame: E = α_m · m² / Σ_j 2^(−R_j), with Flajolet's small-range
    correction E ≤ 2.5m ∧ V empty buckets > 0 → m·ln(m/V). The
    harmonic sum is the exact long Σ 2^(q+1−R_j) (every term a power
    of two ≤ 2^(q+1); m·2^(q+1) < 2^63 for every practical p), so
    partition order cannot perturb a bit; the only IEEE ops are one
    division and the correction's ln."""
    gcols = list(group_cols)
    q = 60 - p
    m = 1 << p
    # exact power-of-two term: 2^(q+1-r), r in [0, q+1]. SQL-form
    # shiftleft — the PySpark wrapper only takes a literal shift.
    term = F.expr(f"shiftleft(cast(1 as bigint), {q + 1} - r)")
    agg = regs.groupBy(*gcols).agg(
        F.sum(term).alias("__isum"),
        F.sum(F.when(F.col("r") == 0, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_empty"
        ),
    )
    scale = float(hll_alpha(p) * m * m * (1 << (q + 1)))
    raw = F.lit(scale) / F.col("__isum").cast("double")
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("n_empty") > 0),
        F.lit(float(m))
        * F.log(F.lit(float(m)) / F.col("n_empty").cast("double")),
    ).otherwise(raw)
    return agg.select(
        *gcols,
        F.lit(m).alias("m"),
        F.col("n_empty").cast("long").alias("n_empty"),
        F.round(corrected, 6).alias("estimate"),
    )


def rolling_hll_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    date_col: str,
    window_days: int = 7,
    p: int = 6,
) -> DataFrame:
    """Trailing-window distinct counts (the DAU/WAU/MAU report) from
    DAILY HLL register states — the canonical sketch-merge pattern:
    compute each (group, day)'s m registers ONCE, then every day's
    trailing ``window_days`` estimate is a max-merge of at most
    ``window_days`` register frames. A rolling exact COUNT(DISTINCT)
    rescans every key in the window per report day (O(days × window ×
    keys)); this touches each key once and then moves only O(groups ×
    days × m) register rows.

    The window merge is a map-side fan-out, not a range join: each
    (group, day) register row replicates to the ``window_days`` report
    days it serves (explode over a date sequence), then one
    map-side-combinable max-groupBy per (group, report day, bucket).
    Report days are restricted to days the group actually has events
    (deterministic contract, mirrored by the oracle).

    Returns (group, day, n_days_merged, estimate) via the SAME
    estimator tail as q176 — bit-identical cross-engine.
    """
    day = F.to_date(F.col(date_col)).alias("__day")
    # NULL keys are filtered HERE, before the report-day set is built:
    # hll_registers drops them anyway, but a (group, day) whose events
    # were ALL null-keyed must not become a report day —
    # the day contract and the register contract derive from the same
    # filtered frame, matching the oracle's null-filtered day set.
    staged = df.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col).alias("__grp"), day, F.col(key_col)
    )
    regs = hll_registers(staged, key_col, ["__grp", "__day"], p=p)
    fan = regs.select(
        "__grp",
        F.explode(
            F.sequence(
                F.col("__day"),
                F.date_add(F.col("__day"), window_days - 1),
            )
        ).alias("__tday"),
        F.col("__day").alias("__srcday"),
        "bucket",
        "r",
    )
    days = staged.select("__grp", "__day").distinct()
    scoped = fan.join(
        days.select(
            "__grp", F.col("__day").alias("__tday")
        ),
        ["__grp", "__tday"],
        "left_semi",
    )
    merged = scoped.groupBy("__grp", "__tday", "bucket").agg(
        F.max("r").cast("int").alias("r")
    )
    n_src = (
        scoped.select("__grp", "__tday", "__srcday")
        .distinct()
        .groupBy("__grp", "__tday")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days_merged"))
    )
    est = hll_estimate(merged, ["__grp", "__tday"], p=p)
    return (
        est.join(n_src, ["__grp", "__tday"])
        .select(
            F.col("__grp").alias(group_col),
            F.col("__tday").alias("day"),
            "n_days_merged",
            "estimate",
        )
    )


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    k: int = 256,
    hll_p: int = 8,
    safety: int = 8,
) -> DataFrame:
    """Per-group KMV sketch (Beyer et al., SIGMOD 2007): the ``k``
    smallest DISTINCT 60-bit md5 hash values, as rows (group..., h).
    The third sketch of the family, and the one that supports SET
    EXPRESSIONS: the bottom-k of a union is the bottom-k of the parts'
    sketches (merge law, pinned by test), and because the sketch is a
    uniform sample of the key space, overlap fractions inside it
    estimate Jaccard/intersection sizes — what HLL registers cannot do.

    Scale device — HLL-guided threshold prefilter: a naive bottom-k
    ranks EVERY distinct hash of a group through that group's window
    partition (O(distinct) per task — the q166-class defect at 100 TB
    when groups have billions of keys). Instead pass 1 estimates each
    group's cardinality D̂ from this module's own HLL registers
    (p=``hll_p``: ±~6.5%), pass 2 keeps only h <= τ = safety·k·2^60/D̂
    (expected ``safety``·k survivors per group — millions of keys never
    reach the sort), and the window ranks the tiny survivor frame.
    EXACTNESS is preserved, not approximated: the true k-th smallest
    hash sits at ~k·2^60/D, so τ clips it only if the HLL estimate is
    ``safety``× too high — beyond any HLL tail at p=8 (and the q178
    oracle computes the UNFILTERED bottom-k, so a clipped sketch can
    never go green). Groups with D̂ below the threshold keep everything
    (τ caps at 2^60) and the sketch degrades gracefully to the exact
    distinct set.

    Returns at most k rows per group: (group..., h) with h ascending
    rank implied by value order.
    """
    gcols = list(group_cols)
    two60 = 1 << 60
    staged = df.filter(F.col(key_col).isNotNull()).select(
        *gcols, key_hash60(F.col(key_col)).alias("h")
    )
    est = hll_estimate(
        hll_registers(df, key_col, gcols, p=hll_p), gcols, p=hll_p
    ).select(
        *gcols,
        F.least(
            F.lit(float(two60)),
            F.lit(float(safety * k) * float(two60))
            / F.greatest(F.col("estimate"), F.lit(1.0)),
        ).alias("__tau"),
    )
    survivors = (
        staged.join(F.broadcast(est), gcols)
        .filter(F.col("h").cast("double") <= F.col("__tau"))
        .select(*gcols, "h")
        .distinct()
    )
    w = Window.partitionBy(*gcols).orderBy("h")
    return (
        survivors.select(*gcols, "h", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") <= k)
        .select(*gcols, "h")
    )


def kmv_pair_overlap(
    sketch: DataFrame,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """Pairwise set-overlap estimates between every two groups of a KMV
    sketch frame (Beyer et al.'s union trick): for a pair (A, B), the
    k smallest of S_A ∪ S_B form a uniform sample L of A ∪ B, so
    D̂_union comes from L's k-th order statistic and the fraction ρ of
    L present in BOTH sketches estimates Jaccard — intersection ≈
    ρ·D̂_union. When |L| < k both sketches were complete and every
    number is exact. Output: (grp_a, grp_b, k, n_union_sample,
    jaccard_est, inter_est).

    The group list is collected once (bounded O(groups) — the k-means
    centroid precedent) to build the pair frame as a ``LocalRelation``;
    every join after that is an equi-join on (pair, h) over O(k) rows
    per pair. The sketch frame is persisted first: four branches reference
    it (two sides × candidate/membership roles), and each lazy
    reference would otherwise recompute the full two-pass sketch
    lineage — measured 7.0 s → 0.9 s for the overlap step at sf0.1.
    The groups collect doubles as the eager materialization."""
    agg, s = _kmv_pair_stats(sketch, group_col, k)
    if agg is None:
        return local_frame(
            sketch.sparkSession,
            [],
            "grp_a string, grp_b string, k int, n_union_sample long, "
            "jaccard_est double, inter_est double",
        )
    d_union = _kmv_d_union(k)
    rho = F.col("__nboth").cast("double") / F.col(
        "n_union_sample"
    ).cast("double")
    out = agg.select(
        "grp_a",
        "grp_b",
        F.lit(k).alias("k"),
        "n_union_sample",
        F.round(rho, 6).alias("jaccard_est"),
        F.round(rho * d_union, 6).alias("inter_est"),
    )
    return attach_cache_release(out, (s,))


def _kmv_d_union(k: int):
    """Union-cardinality estimator column over a _kmv_pair_stats row:
    (k−1)·2^60 / h_(k) when the union sample is full, else the exact
    sample size (both sketches complete → exact arithmetic)."""
    full = F.col("n_union_sample") >= k
    return F.when(
        full,
        F.lit(float((k - 1) * (1 << 60))) / F.col("__hk").cast("double"),
    ).otherwise(F.col("n_union_sample").cast("double"))


def _kmv_pair_stats(sketch: DataFrame, group_col: str, k: int):
    """Shared union-sample statistics behind the KMV set-expression
    ops (:func:`kmv_pair_overlap`, :func:`kmv_set_difference`): for
    every unordered group pair, the bottom-k of the sketches' union
    with membership counts. Returns (agg, persisted_sketch) where agg
    has (grp_a, grp_b, n_union_sample, __na, __nb, __nboth, __hk) —
    or (None, None) when fewer than two groups exist.

    The group list is collected once (bounded O(groups) — the k-means
    centroid precedent) to build the pair frame, a ``LocalRelation``
    typed like the group column (:func:`session.local_frame`); every
    join after that is an equi-join on (pair, h) over O(k) rows per
    pair (the per-pair window input is ≤ 2k rows by construction, so
    the pair-keyed window is bounded, not O(rows)). The sketch frame
    is persisted first: four branches reference it, and each lazy
    reference would otherwise recompute the full two-pass sketch
    lineage — measured 7.0 s → 0.9 s for the overlap step at sf0.1.
    The groups collect doubles as the eager materialization. Callers
    own the persisted frame (attach_cache_release on their result)."""
    spark = sketch.sparkSession
    s = sketch.select(F.col(group_col).alias("g"), "h").persist()
    # collect-ok: O(distinct monitor groups), doubles as materialization
    groups = sorted(r["g"] for r in s.select("g").distinct().collect())
    pairs = [(a, b) for i, a in enumerate(groups) for b in groups[i + 1:]]
    if not pairs:
        s.unpersist()
        return None, None
    g = s.schema["g"].dataType
    pf = local_frame(
        spark,
        pairs,
        T.StructType(
            [T.StructField("grp_a", g), T.StructField("grp_b", g)]
        ),
    )
    side_a = pf.join(s, F.col("grp_a") == F.col("g")).select(
        "grp_a", "grp_b", "h"
    )
    side_b = pf.join(s, F.col("grp_b") == F.col("g")).select(
        "grp_a", "grp_b", "h"
    )
    union = side_a.unionByName(side_b).distinct()
    w = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    sample = union.select(
        "grp_a", "grp_b", "h", F.row_number().over(w).alias("__rn")
    ).filter(F.col("__rn") <= k)
    in_a = side_a.select("grp_a", "grp_b", "h").withColumn(
        "__ina", F.lit(1)
    )
    in_b = side_b.select("grp_a", "grp_b", "h").withColumn(
        "__inb", F.lit(1)
    )
    flagged = (
        sample.join(in_a, ["grp_a", "grp_b", "h"], "left")
        .join(in_b, ["grp_a", "grp_b", "h"], "left")
        .select(
            "grp_a",
            "grp_b",
            "h",
            F.coalesce(F.col("__ina"), F.lit(0)).alias("__ia"),
            F.coalesce(F.col("__inb"), F.lit(0)).alias("__ib"),
        )
    )
    agg = flagged.groupBy("grp_a", "grp_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sample"),
        F.sum("__ia").cast("long").alias("__na"),
        F.sum("__ib").cast("long").alias("__nb"),
        F.sum(F.col("__ia") * F.col("__ib")).cast("long").alias("__nboth"),
        F.max("h").alias("__hk"),
    )
    return agg, s


def kmv_set_difference(
    sketch: DataFrame,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """Pairwise set-DIFFERENCE estimates between every two groups of a
    KMV sketch frame — the set-algebra read :func:`kmv_pair_overlap`'s
    Jaccard/intersection cannot answer: how many keys are in A but not
    B (audience exclusivity, churn-to-competitor, coverage gaps). Same
    union trick (Beyer et al. 2007): the bottom-k of S_A ∪ S_B is a
    uniform sample L of A ∪ B, so the fraction of L present ONLY in
    S_A estimates |A∖B| / |A∪B|, and |A∖B| ≈ frac·D̂_union. When
    |L| < k both sketches were complete and every number is exact.

    Output: (grp_a, grp_b, k, n_union_sample, only_a_est, only_b_est,
    symdiff_est) for every unordered pair, grp_a < grp_b.

    Scale: identical to kmv_pair_overlap — the sketches are O(k) per
    group, pairs O(groups²) bounded rows, one bounded-collect group
    list; the heavy lifting stays in :func:`kmv_sketch`'s
    HLL-prefiltered two-pass build."""
    agg, s = _kmv_pair_stats(sketch, group_col, k)
    if agg is None:
        return local_frame(
            sketch.sparkSession,
            [],
            "grp_a string, grp_b string, k int, n_union_sample long, "
            "only_a_est double, only_b_est double, symdiff_est double",
        )
    d_union = _kmv_d_union(k)
    n = F.col("n_union_sample").cast("double")
    fa = (F.col("__na") - F.col("__nboth")).cast("double") / n
    fb = (F.col("__nb") - F.col("__nboth")).cast("double") / n
    out = agg.select(
        "grp_a",
        "grp_b",
        F.lit(k).alias("k"),
        "n_union_sample",
        F.round(fa * d_union, 6).alias("only_a_est"),
        F.round(fb * d_union, 6).alias("only_b_est"),
        F.round((fa + fb) * d_union, 6).alias("symdiff_est"),
    )
    return attach_cache_release(out, (s,))


def countmin_counters(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 3,
    width: int = 32,
) -> DataFrame:
    """The COMPLETE per-group count-min counter frame (group...,
    sketch_row, bucket, c): ``depth`` × ``width`` cells per group,
    cell (i, j) counting rows whose i-th universal hash lands on j.
    Mergeable by elementwise SUM (pinned by test). Fixed O(d·w) state
    per group regardless of key cardinality — the point at 100 TB.

    Hash row i: ((a_i·h + b_i) mod P) mod width over the md5-derived
    31-bit key hash, with the same public Carter-Wegman (a, b) family
    the MinHash pipeline uses — deterministic and engine-portable.

    Scale shape: the depth hash columns compute map-side and stack
    into (row, bucket) pairs BEFORE the single map-side-combinable
    groupBy, so the shuffle carries at most d·w rows per (partition,
    group); then the O(groups × d·w) grid completion."""
    gcols = list(group_cols)
    h31 = (key_hash60(F.col(key_col)) % F.lit(UH_PRIME)).alias("__h")
    staged = df.filter(F.col(key_col).isNotNull()).select(*gcols, h31)
    stacked = staged.select(
        *gcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sketch_row"),
                        (
                            (F.col("__h") * F.lit(universal_hash_params(i)[0])
                             + F.lit(universal_hash_params(i)[1]))
                            % F.lit(UH_PRIME)
                            % F.lit(width)
                        ).cast("int").alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("__rb"),
    ).select(
        *gcols,
        F.col("__rb.sketch_row").alias("sketch_row"),
        F.col("__rb.bucket").alias("bucket"),
    )
    counters = stacked.groupBy(*gcols, "sketch_row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = (
        counters.select(*gcols)
        .distinct()
        .select(
            *gcols,
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias(
                "sketch_row"
            ),
        )
        .select(
            *gcols,
            "sketch_row",
            F.explode(F.sequence(F.lit(0), F.lit(width - 1))).alias("bucket"),
        )
        .select(
            *gcols,
            "sketch_row",
            F.col("bucket").cast("int").alias("bucket"),
        )
    )
    return grid.join(
        counters.select(
            *gcols,
            "sketch_row",
            F.col("bucket").cast("int").alias("bucket"),
            "c",
        ),
        [*gcols, "sketch_row", "bucket"],
        "left",
    ).select(
        *gcols,
        F.col("sketch_row").cast("int").alias("sketch_row"),
        "bucket",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
    )


def bloom_positions(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    m_bits: int = 16384,
    depth: int = 3,
) -> DataFrame:
    """Per-group Bloom filter (Bloom 1970) as the SPARSE set of set bit
    positions (group..., pos): each key sets ``depth`` Carter-Wegman
    positions in an ``m_bits`` array; the frame holds at most
    min(m, d·n_keys) rows per group. Mergeable by union+distinct
    (bitwise OR — pinned by test), which also makes it streamable on
    the delta-store machinery. One map-side explode + distinct; no
    per-key state survives.

    Spark's own bloomFilter lives driver-side in DataFrameStatFunctions
    and its bit array is engine-private; this one is relational,
    groupable, and bit-identical in any engine with md5 — the q179
    oracle value-hashes membership VERDICTS, not just error bounds."""
    gcols = list(group_cols)
    h31 = (key_hash60(F.col(key_col)) % F.lit(UH_PRIME)).alias("__h")
    staged = df.filter(F.col(key_col).isNotNull()).select(*gcols, h31)
    return (
        staged.select(
            *gcols,
            F.explode(
                F.array(
                    *[
                        (
                            (F.col("__h") * F.lit(universal_hash_params(i)[0])
                             + F.lit(universal_hash_params(i)[1]))
                            % F.lit(UH_PRIME)
                            % F.lit(m_bits)
                        ).cast("int")
                        for i in range(depth)
                    ]
                )
            ).alias("pos"),
        )
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    m_bits: int = 16384,
    depth: int = 3,
) -> DataFrame:
    """Membership verdicts for a probe frame (group..., key): ``maybe``
    is true iff ALL ``depth`` probed positions are set — no false
    negatives ever, false positives at the classic (1 − e^(−d·n/m))^d
    rate. The probe positions explode map-side; one left-semi-shaped
    join against the sparse bit frame and a count-equals-depth check
    per probe. NULL probe keys are filtered — the writer
    (:func:`bloom_positions`) never hashes NULLs, so probing one
    would produce a meaningless maybe=False row."""
    gcols = list(group_cols)
    h31 = (key_hash60(F.col(key_col)) % F.lit(UH_PRIME)).alias("__h")
    # dedupe BEFORE exploding cells: a duplicated probe row would
    # multiply its cells and push nhit past depth, flipping a true
    # member to False (the nhit == depth check relies on
    # exactly one cell set per hash row)
    staged = (
        probes.filter(F.col(key_col).isNotNull())
        .select(*gcols, F.col(key_col), h31)
        .distinct()
    )
    cells = staged.select(
        *gcols,
        key_col,
        F.explode(
            F.array(
                *[
                    (
                        (F.col("__h") * F.lit(universal_hash_params(i)[0])
                         + F.lit(universal_hash_params(i)[1]))
                        % F.lit(UH_PRIME)
                        % F.lit(m_bits)
                    ).cast("int")
                    for i in range(depth)
                ]
            )
        ).alias("pos"),
    )
    hits = (
        cells.join(bits, [*gcols, "pos"], "left_semi")
        .groupBy(*gcols, key_col)
        .agg(F.count(F.lit(1)).alias("__nhit"))
    )
    return (
        staged.select(*gcols, key_col)
        .join(hits, [*gcols, key_col], "left")
        .select(
            *gcols,
            key_col,
            (F.coalesce(F.col("__nhit"), F.lit(0)) == depth).alias("maybe"),
        )
    )


def countmin_lookup(
    counters: DataFrame,
    probes: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 3,
    width: int = 32,
) -> DataFrame:
    """Point-frequency estimates for a SMALL probe frame (group...,
    key): min over sketch rows of the probed counter — the count-min
    read path. Guaranteed >= the true count (collisions only add).
    The probe frame is broadcast; the counter frame is filtered to the
    probed cells by the join, so the lookup is O(probes · depth).

    Read contract: a probe whose group has NO counter
    frame returns the correct estimate 0 (the sketch of an empty
    stream counts nothing) instead of silently vanishing — the final
    left join from the probe frame guarantees one output row per
    distinct probe. NULL probe keys are filtered, matching the writer
    (:func:`countmin_counters` drops NULL keys before hashing)."""
    gcols = list(group_cols)
    h31 = (key_hash60(F.col(key_col)) % F.lit(UH_PRIME)).alias("__h")
    staged = probes.filter(F.col(key_col).isNotNull()).select(
        *gcols, F.col(key_col), h31
    )
    cells = staged.select(
        *gcols,
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sketch_row"),
                        (
                            (F.col("__h") * F.lit(universal_hash_params(i)[0])
                             + F.lit(universal_hash_params(i)[1]))
                            % F.lit(UH_PRIME)
                            % F.lit(width)
                        ).cast("int").alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("__rb"),
    ).select(
        *gcols,
        key_col,
        F.col("__rb.sketch_row").alias("sketch_row"),
        F.col("__rb.bucket").alias("bucket"),
    )
    hits = (
        counters.join(F.broadcast(cells), [*gcols, "sketch_row", "bucket"])
        .groupBy(*gcols, key_col)
        .agg(F.min("c").alias("__cm"))
    )
    # counter frames are COMPLETE grids (countmin_counters coalesces
    # every cell to 0), so a probe that found no cells belongs to a
    # never-sketched group: estimate exactly 0. Both sides of this
    # final join are O(probes).
    return (
        staged.select(*gcols, key_col)
        .distinct()
        .join(F.broadcast(hits), [*gcols, key_col], "left")
        .select(
            *gcols,
            key_col,
            F.coalesce(F.col("__cm"), F.lit(0))
            .cast("long")
            .alias("cm_estimate"),
        )
    )


def histogram_quantile_estimate(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    n_bins: int = 64,
    percentiles: Sequence[int] = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Quantile estimates from a MERGEABLE fixed-grid histogram sketch
    — the quantile member of this module's sketch family (HLL =
    distinct, count-min = frequency, Bloom = membership, KMV = set
    algebra): per-group equi-width bin counts over the group's exact
    [min, max] span are O(groups × n_bins) state that merges by
    elementwise SUM (shards bin identically because the grid is frozen
    by the bounds pass — the PSI-bin contract, and in fact the SAME
    binning expression: functions/quality.psi_bin, shared with the
    batch and streaming drift monitors).

    Estimator: the p-th percentile estimate is the LOWER EDGE of the
    first bin whose cumulative count reaches the nearest-rank target
    ceil(p·n/100) (exact integer arithmetic, the
    grouped_rank_elements convention). The true nearest-rank element
    provably lies INSIDE that bin, so |error| <= bin width — emitted
    as ``within_bound``, an invariant column the driver's value-hash
    gate certifies. The exact element and absolute error ride along
    for calibration (gate-scale columns; at 100 TB you ship the
    estimator and the bound, which is the entire point of a quantile
    sketch).

    Determinism/parity: bin ids are psi_bin's clamped floor over
    identical IEEE doubles; bin edges are rmin + bin·(rmax−rmin)/n —
    the same expression text both engines parse; targets and
    cumulative counts are exact integers. Zero-width groups (one
    distinct value) collapse to bin 0 with estimate == exact == min.

    Scale shape: one bounds aggregate (O(groups), broadcast back), one
    map-side-combinable bin count, one window over the O(groups ×
    n_bins) COLLAPSED frame (bounded — never the row stream), plus the
    calibration-only exact pass (group_rank_frame device).
    """
    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_rank_elements,
        psi_bin,
    )

    gcols = list(group_cols)
    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v.cast("double"))).select(
        *gcols, v.cast("double").alias("__v")
    )
    bounds = clean.groupBy(*gcols).agg(
        F.min("__v").alias("__rmin"),
        F.max("__v").alias("__rmax"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    binned = (
        clean.join(F.broadcast(bounds), gcols)
        .groupBy(
            *gcols,
            psi_bin(
                F.col("__v"), F.col("__rmin"), F.col("__rmax"), n_bins
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wcum = (
        Window.partitionBy(*gcols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        *gcols, "bin", F.sum("c").over(wcum).alias("__cum")
    ).join(F.broadcast(bounds), gcols)
    width = (F.col("__rmax") - F.col("__rmin")) / F.lit(float(n_bins))
    bin_lo = F.col("__rmin") + F.col("bin").cast("double") * width
    est_aggs = [
        F.max("__n").alias("n"),
        F.max(width).alias("width"),
    ]
    for p in percentiles:
        target = F.expr(f"({int(p)} * __n + 99) div 100")
        est_aggs.append(
            F.min(F.when(F.col("__cum") >= target, bin_lo)).alias(
                f"__e{p}"
            )
        )
    est = cum.groupBy(*gcols).agg(*est_aggs)
    exact = grouped_rank_elements(
        clean,
        gcols,
        "__v",
        [(int(p), 100, f"__x{p}") for p in percentiles],
    )
    wide = est.join(exact, gcols) if gcols else est.crossJoin(exact)
    stack_args = ", ".join(
        f"{int(p)}, __e{p}, __x{p}" for p in percentiles
    )
    long = wide.select(
        *gcols,
        "n",
        "width",
        F.expr(
            f"stack({len(list(percentiles))}, {stack_args}) "
            "as (percentile, q_est, q_exact)"
        ),
    )
    return long.select(
        *gcols,
        F.col("percentile").cast("int").alias("percentile"),
        "n",
        F.round("width", 6).alias("bin_width"),
        F.round("q_est", 6).alias("q_est"),
        F.col("q_exact"),
        F.round(F.abs(F.col("q_est") - F.col("q_exact")), 6).alias(
            "abs_err"
        ),
        (F.abs(F.col("q_est") - F.col("q_exact")) <= F.col("width")).alias(
            "within_bound"
        ),
    )
