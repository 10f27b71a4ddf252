"""Data-quality metrics (A1–A3, §2.11 monitoring; reference raw_data.py:316-345).

The reference computes row counts, per-column null counts, and the timestamp
range with eager pandas calls and prints warnings. Spark-first: the same
metrics ride along the main action as a single ``df.observe`` (zero extra
jobs) — never one job per column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.schemas import quote_ident


def null_count(c: str):
    """A2: ``count(when(isnull(c), 1))`` — one expression per column,
    parsed from SQL text in one py4j call."""
    return F.expr(
        f"count(CASE WHEN {quote_ident(c)} IS NULL THEN 1 END) "
        f"AS {quote_ident('missing_' + c)}"
    )


_ROW_COUNT = "count(1) AS row_count"


def observe_quality(
    df: DataFrame, name: str, cols: Sequence[str]
) -> tuple[DataFrame, Observation]:
    """Attach quality metrics to the plan itself — collected for free when
    the next action runs (the streaming-compatible analog of the reference's
    post-hoc checks, SURVEY.md §2.11)."""
    obs = Observation(name)
    observed = df.observe(
        obs,
        F.expr(_ROW_COUNT),
        *[null_count(c) for c in cols],
    )
    return observed, obs


def completeness_warnings(
    metrics: dict[str, int], thresholds: dict[str, int]
) -> list[str]:
    """Threshold check mirroring ``missing_carbon > 2 or missing_prices > 5``
    (reference raw_data.py:330-339); returns warning strings."""
    return [
        f"{key}: {metrics.get(key, 0)} missing > {limit}"
        for key, limit in thresholds.items()
        if metrics.get(key, 0) > limit
    ]


def fixed_bin_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Fixed-width histogram (width_bucket semantics): values clamp into
    [lo, hi) bins, with per-group counts and bin bounds.

    One groupBy over (groups, bin) — bin assignment is pure arithmetic on
    the scan, so the whole op is a single map-side-combined aggregate; no
    per-group sort, no driver-side binning. The bin id from floor() is
    exact for IEEE doubles, hence engine-reproducible bit-for-bit.
    """
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bin_id = F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    out = (
        df.filter(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double")))
        .groupBy(*group_cols, bin_id.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.select(
        *group_cols,
        "bin",
        (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_lo"),
        (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("bin_hi"),
        "n",
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_flag,
    by: Sequence[str] = (),
) -> DataFrame:
    """Welch two-sample t-test per ``by`` group: ``group_flag`` (a boolean
    Column) splits rows into A (false) and B (true); outputs per-arm
    n/mean/sample-variance plus the Welch t statistic and
    Welch–Satterthwaite degrees of freedom (round(6)).

    Parity/scale: ONE aggregate job with conditional decimal-accumulated
    moments (sum, sum-of-squares per arm) — order-independent across
    partitions, map-side combined, no second pass and no pivot shuffle.
    All downstream arithmetic is double-on-exact-moments, so both engines
    reproduce it bit-for-bit given the same expression structure.
    """
    dec = F.col(value_col).cast("decimal(18,4)")
    fl = group_flag.cast("boolean")

    def arm(flag_val: bool, tag: str):
        cond = fl == flag_val
        return [
            F.count(F.when(cond, F.lit(1))).alias(f"n_{tag}"),
            F.sum(F.when(cond, dec)).cast("double").alias(f"__s_{tag}"),
            F.sum(F.when(cond, dec * dec)).cast("double").alias(f"__ss_{tag}"),
        ]

    # NaN is excluded like NULL: the decimal cast nulls NaN inside the
    # sums while count() would still count the row, fabricating moments
    # (the same rule applies in histogram/trend/anomalies/gini)
    base = (
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
        )
        .groupBy(*by)
        .agg(*arm(False, "a"), *arm(True, "b"))
    )
    mean = {t: F.col(f"__s_{t}") / F.col(f"n_{t}") for t in ("a", "b")}
    # Sample variance (ddof=1) from exact moments: (ss - s*mean)/(n-1).
    var = {
        t: (F.col(f"__ss_{t}") - F.col(f"__s_{t}") * mean[t])
        / (F.col(f"n_{t}") - 1)
        for t in ("a", "b")
    }
    se2 = var["a"] / F.col("n_a") + var["b"] / F.col("n_b")
    t_stat = (mean["a"] - mean["b"]) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (var["a"] / F.col("n_a")) * (var["a"] / F.col("n_a"))
        / (F.col("n_a") - 1)
        + (var["b"] / F.col("n_b")) * (var["b"] / F.col("n_b"))
        / (F.col("n_b") - 1)
    )
    return base.select(
        *by,
        "n_a",
        "n_b",
        F.round(mean["a"], 6).alias("mean_a"),
        F.round(mean["b"], 6).alias("mean_b"),
        F.round(var["a"], 6).alias("var_a"),
        F.round(var["b"], 6).alias("var_b"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
    )


def grouped_lower_median(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    alias: str,
) -> DataFrame:
    """Exact LOWER median per group: the element at ascending rank
    ``(n+1) div 2``. Deliberately element-based (never interpolated) —
    interpolated percentiles differ between engines in the last ULP,
    while "a specific input element" is bit-reproducible everywhere,
    which keeps every downstream comparison (MAD, outlier thresholds)
    deterministic.

    Scale: aggregate to DISTINCT values first (groupBy value — map-side
    combined), then a cumulative-count window over the distinct values of
    each group. The window partition is one group's distinct-value set —
    far smaller than its row count; for extreme-cardinality groups swap
    in percentile_approx and accept the approximation.
    """
    # rank (n+1) div 2 == ceil(n/2): q=1/2 of the general device below.
    return grouped_rank_elements(df, by, value_col, [(1, 2, alias)])


MAD_SIGMA = 1.4826  # consistency constant: MAD × 1.4826 ≈ σ for normal data


def mad_outlier_summary(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    n_sigmas: float = 3.0,
    scale_estimator: str = "exact",
    scale_bins: int = 64,
) -> DataFrame:
    """Robust outlier summary per group: lower-median, MAD (lower-median
    of absolute deviations), and the count/rate of rows whose deviation
    exceeds ``n_sigmas × 1.4826 × MAD``.

    ``scale_estimator="exact"`` (default, the gate/oracle path): two
    grouped_lower_median passes — medians are data elements, so the
    deviations and therefore the threshold comparison are bit-exact in
    any engine. The rank device is a distributed range sort over the
    per-group DISTINCT values; for continuous doubles that collapsed
    frame is still O(rows), so the exact path pays two full range
    exchanges at decade scale.

    ``scale_estimator="sketch"`` is the 100 TB path (q219's huber
    swap): both medians come from the mergeable
    O(groups × scale_bins) histogram device (:func:`_hist_median`) —
    every aggregate map-side combinable, NO sort, no per-group value
    buffer; |median error| <= bin width/2 per median, and the MAD grid
    derives its bounds from the value bounds already in hand
    (max|v − med| == max(vmax − med, med − vmin) exactly), so the
    whole summary is THREE row scans (bounds, value bins, deviation
    bins) plus the closing flag pass. The outlier threshold moves by
    at most 1.4826·n_sigmas·(stacked bin error), which the within-bound
    test pins.
    """
    if scale_estimator == "exact":
        med = grouped_lower_median(df, by, value_col, "median")
        rows = df.filter(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))).join(
            F.broadcast(med), list(by) if by else None, "inner" if by else "cross"
        )
        dev = rows.withColumn(
            "__dev", F.abs(F.col(value_col) - F.col("median"))
        )
        mad = grouped_lower_median(dev, by, "__dev", "mad")
    elif scale_estimator == "sketch":
        bys = list(by)
        clean = df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        vals = clean.select(
            *bys, F.col(value_col).cast("double").alias("__v")
        )
        bounds = vals.groupBy(*bys).agg(
            F.min("__v").alias("__rmin"),
            F.max("__v").alias("__rmax"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
        med = _hist_median(
            vals, bys, F.col("__v"), scale_bins, "median", bounds=bounds
        )
        mad_bounds = (
            bounds.join(med, bys)
            if bys
            else bounds.crossJoin(F.broadcast(med))
        ).select(
            *bys,
            F.lit(0.0).alias("__rmin"),
            F.greatest(
                F.col("__rmax") - F.col("median"),
                F.col("median") - F.col("__rmin"),
            ).alias("__rmax"),
            F.col("__n"),
        )
        rows = clean.join(
            F.broadcast(med), bys if bys else None,
            "inner" if bys else "cross",
        )
        dev = rows.withColumn(
            "__dev",
            F.abs(F.col(value_col).cast("double") - F.col("median")),
        )
        mad = _hist_median(
            dev, bys, F.col("__dev"), scale_bins, "mad", bounds=mad_bounds
        )
    else:
        raise ValueError(
            f"scale_estimator must be 'exact' or 'sketch', got "
            f"{scale_estimator!r}"
        )
    flagged = dev.join(F.broadcast(mad), list(by) if by else None,
                       "inner" if by else "cross")
    thr = F.lit(float(n_sigmas)) * F.lit(MAD_SIGMA) * F.col("mad")
    return flagged.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.first("median").alias("median"),
        F.first("mad").alias("mad"),
        F.sum((F.col("__dev") > thr).cast("long")).alias("n_outliers"),
        F.round(
            F.sum((F.col("__dev") > thr).cast("long")) / F.count(F.lit(1)), 6
        ).alias("outlier_rate"),
    )


def grouped_rank_elements(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    quantiles: Sequence[tuple[int, int, str]],
) -> DataFrame:
    """Exact nearest-rank quantile ELEMENTS per group, single pass:
    for each (num, den, alias) the element at ascending rank
    ``ceil(num·n/den)`` — computed as ``(num·n + den − 1) div den`` in
    pure integer arithmetic, so every engine picks the identical input
    element (q=1/2 reproduces grouped_lower_median exactly).

    One distinct-value aggregate + ONE group_rank_frame pass serves
    every requested quantile (for continuous values the collapsed
    frame is still O(rows), and a cumulative window partitioned by the
    low-cardinality group key would serialize each group through one
    task).
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    g = (
        df.filter(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double")))
        .groupBy(*by, F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cum = group_rank_frame(
        g,
        by,
        ["__v"],
        group_rank_col=None,
        group_count_col=None,
        sum_cols=["__c"],
    )
    n = F.col("__c__gtot")
    staged = cum.select(
        *by,
        "__v",
        F.col("__c__gcum").alias("__cum"),
        *[
            F.floor((num * n + (den - 1)) / den).alias(f"__tgt_{alias}")
            for num, den, alias in quantiles
        ],
    )
    return staged.groupBy(*by).agg(
        *[
            F.min(
                F.when(F.col("__cum") >= F.col(f"__tgt_{alias}"), F.col("__v"))
            ).alias(alias)
            for _, _, alias in quantiles
        ]
    )


def robust_scale(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    out_col: str = "robust_scaled",
) -> DataFrame:
    """Robust (median/IQR) scaling: (x − p50) / (p75 − p25) per group,
    with element-based quartiles so the scaled values are bit-identical
    in any engine. Rows in a zero-IQR group scale to null.

    Scale: the quartile frame is O(groups) and broadcasts back onto the
    row stream — the data path is one map-side join, no row shuffle.
    """
    qs = grouped_rank_elements(
        df,
        by,
        value_col,
        [(1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75")],
    )
    joined = df.filter(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))).join(
        F.broadcast(qs), list(by) if by else None, "inner" if by else "cross"
    )
    iqr = F.col("p75") - F.col("p25")
    return joined.withColumn(
        out_col,
        F.when(iqr > 0, F.round((F.col(value_col) - F.col("p50")) / iqr, 6)),
    )


def seasonal_anomalies(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Sequence[str] = (),
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Seasonal-baseline anomaly detection: the baseline is the mean per
    (group, hour-of-day) cell; rows whose residual z-score exceeds
    ``n_sigmas`` are flagged. Returns the anomalous rows with their
    baseline and z.

    Parity: cell moments accumulate in decimal (order-independent) and
    the z threshold compares UNROUNDED doubles derived from those exact
    moments, so the flag set is engine-reproducible; z is round(6) only
    in the output. Scale: the baseline frame is O(groups × 24) —
    broadcast; the data path is map-only.
    """
    hour = F.hour(F.col(ts_col)).alias("__hh")
    dec = F.col(value_col).cast("decimal(18,4)")
    cells = (
        df.filter(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double")))
        .groupBy(*by, hour)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(dec).cast("double").alias("__s"),
            F.sum(dec * dec).cast("double").alias("__ss"),
        )
    )
    mean = F.col("__s") / F.col("__n")
    var = F.col("__ss") / F.col("__n") - mean * mean
    base = cells.select(
        *by,
        "__hh",
        mean.alias("__mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("__std"),
    )
    rows = df.filter(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))).withColumn(
        "__hh", F.hour(F.col(ts_col))
    )
    joined = rows.join(F.broadcast(base), [*by, "__hh"])
    z = (F.col(value_col) - F.col("__mean")) / F.col("__std")
    return (
        joined.filter(
            (F.col("__std") > 0) & (F.abs(z) > F.lit(float(n_sigmas)))
        )
        .drop("__hh")
        .withColumn("baseline_mean", F.round("__mean", 6))
        .withColumn("z", F.round(z, 6))
        .drop("__mean", "__std")
    )


def equal_frequency_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    by: Sequence[str] = (),
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Equal-frequency (quantile) binning summary: ntile(n) per group
    over (value, tiebreak) — the tiebreak makes the assignment a total
    order, hence deterministic across engines — with per-bin count and
    value bounds.

    Scale: bin = ntile_from_rank over a
    group_rank_frame per-group rank — ONE range exchange instead of an
    ntile window partitioned by the LOW-cardinality group key, which
    serialized each group through one task. Bit-identical to the
    window ntile whenever (value, tiebreak) is a total order (Spark's
    documented ntile split reproduced arithmetically).
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
        ntile_from_rank,
    )

    order = [value_col] + ([tiebreak_col] if tiebreak_col else [])
    clean = df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    binned = group_rank_frame(clean, by, order).withColumn(
        "bin", ntile_from_rank(F.col("__gr"), F.col("__gn"), n_bins)
    )
    return binned.groupBy(*by, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )


def chi_square_contingency(
    df: DataFrame,
    row_col: str,
    col_flag,
    alias: str = "chi2_row",
) -> DataFrame:
    """Per-row-category χ² contributions of a 2-column contingency table
    (columns = ``col_flag`` false/true): observed counts, expected counts
    under independence, and the row's (O−E)²/E sum. The table-level χ²
    statistic is the sum of the output column; per-row contributions
    localize WHICH category drives the dependence.

    Parity: everything derives from exact integer counts; the two (O−E)²/E
    terms fold in a fixed order, so the doubles are engine-reproducible.
    Scale: one conditional-count aggregate (map-side combined) + a 1-row
    broadcast of the column totals.
    """
    fl = col_flag.cast("boolean")
    counts = df.groupBy(row_col).agg(
        F.count(F.when(~fl, F.lit(1))).alias("n0"),
        F.count(F.when(fl, F.lit(1))).alias("n1"),
    )
    totals = counts.agg(
        F.sum("n0").alias("__c0"), F.sum("n1").alias("__c1")
    )
    j = counts.crossJoin(F.broadcast(totals))
    grand = F.col("__c0") + F.col("__c1")
    row_total = F.col("n0") + F.col("n1")
    e0 = row_total * F.col("__c0") / grand
    e1 = row_total * F.col("__c1") / grand
    term0 = (F.col("n0") - e0) * (F.col("n0") - e0) / e0
    term1 = (F.col("n1") - e1) * (F.col("n1") - e1) / e1
    return j.select(
        row_col,
        "n0",
        "n1",
        F.round(e0, 6).alias("e0"),
        F.round(e1, 6).alias("e1"),
        F.round(term0 + term1, 6).alias(alias),
    )


def grouped_linear_trend(
    df: DataFrame,
    x,
    value_col: str,
    by: Sequence[str] = (),
    slope_unit: float = 86_400_000.0,
) -> DataFrame:
    """Closed-form per-group OLS of value against a numeric ``x`` Column
    (e.g. epoch millis): slope (scaled to ``slope_unit`` x-ticks, i.e.
    per-day for epoch-ms), intercept, and Pearson r — all derived from
    ONE pass of decimal-exact moments (n, Σx, Σy, Σx², Σy², Σxy), the
    same order-independence device as the z-score/Welch aggregates.
    Never the built-in regr_*/corr aggregates: their internal float
    accumulation is partition-order dependent and differs per engine.

    x must be exact integers (epoch millis recentred by a literal);
    x·y double products are IEEE-identical everywhere, and their
    decimal-cast sums make the group moments bit-reproducible.
    """
    xd = x.cast("decimal(28,0)")
    yd = F.col(value_col).cast("decimal(18,4)")
    xy = (x.cast("double") * F.col(value_col)).cast("decimal(28,6)")
    # null/NaN x rows must ALSO drop: they are skipped by the x-moment
    # sums but would inflate n and __sy, silently corrupting the fit
    # (e.g. slope -1.5 where the valid rows define 1.0)
    g = (
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
            & x.isNotNull()
        )
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).cast("double").alias("__sx"),
            F.sum(yd).cast("double").alias("__sy"),
            F.sum(xd * xd).cast("double").alias("__sxx"),
            F.sum(yd * yd).cast("double").alias("__syy"),
            F.sum(xy).cast("double").alias("__sxy"),
        )
    )
    num = F.col("n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = num / den
    intercept = (F.col("__sy") - slope * F.col("__sx")) / F.col("n")
    deny = F.col("n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    r = num / (F.sqrt(den) * F.sqrt(deny))
    return g.select(
        *by,
        "n",
        F.round(slope * F.lit(slope_unit), 6).alias("slope_per_unit"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r, 6).alias("pearson_r"),
    )


def gini_dispersion(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-group Gini mean difference and Gini coefficient — the
    robust dispersion pair (mean |x_i − x_j| over all pairs, and its
    mean-normalized half). The naive form is O(n²) pairs; the
    order-statistics identity GMD = 2·Σ_i (2i − n − 1)·x_(i) / (n(n−1))
    makes it one per-group sort — O(n log n), the classic relational
    trick. Tie order between equal values cannot change the sum
    (coefficients redistribute over identical x), so row_number over
    (value, id) is deterministic AND formula-exact.

    Parity: the rank-weighted products are rounded to 9 decimals and
    summed as DECIMAL (q97 device); the value mean accumulates in
    DECIMAL(18,4) (the events-value device); final O(1) arithmetic in
    double with round(6) surfaces. Nulls are excluded (a null has no
    rank).

    Scale shape: the per-group rank comes from
    operators/prefix.group_rank_frame (ONE range exchange, no
    group-partitioned window — a low-cardinality group key would
    otherwise serialize each group through one task) plus one
    map-side-combinable aggregate."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    base = df.filter(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))).select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("x"),
        F.col(id_col).alias("id"),
    )
    ranked = group_rank_frame(
        base, ["grp"], ["x", "id"], group_rank_col="i", group_count_col="n"
    )
    term = F.round(
        (2 * F.col("i") - F.col("n") - 1).cast("double") * F.col("x"), 9
    ).cast("decimal(28,9)")
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(term).cast("double").alias("__s"),
        F.sum(F.col("x").cast("decimal(18,4)")).cast("double").alias("__sx"),
    )
    nd = F.col("n").cast("double")
    gmd = F.when(
        F.col("n") >= 2,
        2.0 * F.col("__s") / (nd * (nd - 1.0)),
    ).otherwise(F.lit(0.0))
    mean = F.col("__sx") / nd
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        F.round(gmd, 6).alias("gini_mean_diff"),
        F.round(
            F.when(mean != 0.0, gmd / (2.0 * mean)).otherwise(F.lit(0.0)), 6
        ).alias("gini_coefficient"),
    )


def weighted_percentile_elements(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: Sequence[str],
    percentiles: Sequence[int] = (25, 50, 75, 90),
    id_col: str | None = None,
) -> DataFrame:
    """Per-group weighted percentile ELEMENTS (lower nearest-rank on
    cumulative weight): the p-th weighted percentile is the first
    value, in ascending order, whose cumulative weight reaches p% of
    the group's total. Weighted medians/quantiles are what pricing and
    load reports actually need when each row represents a different
    mass (units, bytes, minutes).

    Determinism device: the boundary test is 100·cumw ≥ p·W carried
    ENTIRELY in DECIMAL (weights cast decimal(18,4), exact cumsum,
    exact integer scaling) — no float threshold can wobble the chosen
    element, and both engines pick the identical row. Output values
    are exact column elements, never interpolations (the q82/q38
    element convention).

    Scale shape: the per-group decimal cumsum
    comes from operators/prefix.group_rank_frame — ONE range exchange
    instead of a cumulative window partitioned by the LOW-cardinality
    group key (which serialized each group through one task) — then
    one map-side-combinable aggregate; group count bounds the output.
    Per-partition decimal reassociation is exact, so the chosen
    elements are bit-identical to the window form."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    gcols = list(group_cols)
    order = [value_col] + ([id_col] if id_col else [])
    staged = group_rank_frame(
        df.filter(F.col(value_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__wd", F.col(weight_col).cast("decimal(18,4)")),
        gcols,
        order,
        group_rank_col=None,
        group_count_col=None,
        sum_cols=["__wd"],
    )
    aggs = [F.sum("__wd").cast("double").alias("total_weight")]
    for p in percentiles:
        hit = (
            F.col("__wd__gcum") * 100 >= F.col("__wd__gtot") * int(p)
        )
        aggs.append(
            F.min(F.when(hit, F.col(value_col))).alias(f"p{p}")
        )
    return staged.groupBy(*gcols).agg(*aggs)


def psi_bin(v, rmin, rmax, n_bins: int = 10):
    """The PSI equal-width bin expression (shared by :func:`psi_drift`
    and the streaming monitor so both bin identically): floor over the
    reference-frozen range, out-of-range values clamped into the edge
    bins, zero-width range collapsed to bin 0 via nullif+coalesce."""
    return (
        F.coalesce(
            F.least(
                F.greatest(
                    F.floor((v - rmin) * n_bins / F.nullif(rmax - rmin, F.lit(0.0))),
                    F.lit(0),
                ),
                F.lit(n_bins - 1),
            ),
            F.lit(0),
        )
        .cast("int")
    )


def psi_drift(
    df: DataFrame,
    split_expr,
    value_col: str = "value",
    group_col: str = "event_type",
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index per group between a reference and a
    current population (``split_expr`` boolean column: True = reference)
    — the standard ML-ops drift monitor for numeric features.
    PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over ``n_bins`` equal-width
    bins derived from the REFERENCE min/max (the convention: bins are
    frozen on the reference so current-population shift is what moves
    the index), with add-``smoothing`` Laplace terms so empty bins stay
    finite. Rule of thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25
    shifted.

    Determinism/parity: NaN is excluded like NULL (values feed moments
    — the standing rule); the bin expression guards the zero-width
    reference range with nullif and clamps out-of-range current values
    into the edge bins; each PSI term is rounded to 9 decimals and
    summed as DECIMAL (order-independent — the q97/q120 device); only
    the per-term double arithmetic runs in float, expression-order
    mirrored by the oracle.

    Scale shape: one pass to get per-group reference ranges (O(groups)
    broadcast back), one pass binning both populations (map-side
    combinable groupBy on (group, side, bin)), then the O(groups x
    bins) complete frame — bins materialize from a sequence explode so
    empty bins exist for the smoothing terms. Never a per-row window.
    """
    full = _drift_bin_counts(df, split_expr, value_col, group_col, n_bins)
    return psi_from_bin_counts(
        full, group_col=group_col, n_bins=n_bins, smoothing=smoothing
    )


def _drift_bin_counts(
    df: DataFrame,
    split_expr,
    value_col: str,
    group_col: str,
    n_bins: int,
) -> DataFrame:
    """Shared equal-width-bin scaffold for the divergence family
    (:func:`psi_drift` / :func:`jsd_drift`): clean NaN/NULL, freeze
    per-group bin ranges on the REFERENCE min/max, bin both
    populations with :func:`psi_bin`, and return the COMPLETE
    O(groups x bins) count frame (grp, bin, cr, cc) — zeros included,
    so downstream smoothing terms see every cell."""
    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("grp"),
        v.alias("v"),
        F.when(split_expr, F.lit("ref")).otherwise(F.lit("cur")).alias("side"),
    )
    ranges = (
        clean.filter(F.col("side") == "ref")
        .groupBy("grp")
        .agg(F.min("v").alias("rmin"), F.max("v").alias("rmax"))
    )
    binned = clean.join(F.broadcast(ranges), "grp").select(
        "grp",
        "side",
        psi_bin(
            F.col("v"), F.col("rmin"), F.col("rmax"), n_bins
        ).alias("bin"),
    )
    counts = binned.groupBy("grp", "side", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        ranges.select("grp")
        .select("grp", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"))
    )
    ref_c = counts.filter(F.col("side") == "ref").select(
        "grp", "bin", F.col("c").alias("cr")
    )
    cur_c = counts.filter(F.col("side") == "cur").select(
        "grp", "bin", F.col("c").alias("cc")
    )
    full = (
        grid.join(ref_c, ["grp", "bin"], "left")
        .join(cur_c, ["grp", "bin"], "left")
        .select(
            "grp",
            "bin",
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
        )
    )
    return full


def psi_from_bin_counts(
    full: DataFrame,
    group_col: str = "event_type",
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """PSI from an already-binned complete count frame (grp, bin, cr,
    cc) — the tail of :func:`psi_drift`, split out so (group, bin)
    counts maintained as mergeable fold state give bit-equal PSI to
    the batch operator. Expects every (grp, bin) cell present (zeros
    included) — the Laplace terms need the empty bins."""
    tot = full.groupBy("grp").agg(
        F.sum("cr").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    s = float(smoothing)
    denom_add = s * n_bins
    with_tot = full.join(F.broadcast(tot), "grp")
    p = (F.col("cr").cast("double") + F.lit(s)) / (
        F.col("n_ref").cast("double") + F.lit(denom_add)
    )
    q = (F.col("cc").cast("double") + F.lit(s)) / (
        F.col("n_cur").cast("double") + F.lit(denom_add)
    )
    term = F.round((p - q) * (F.log(p) - F.log(q)), 9).cast("decimal(18,9)")
    out = with_tot.groupBy("grp").agg(
        F.max("n_ref").cast("long").alias("n_ref"),
        F.max("n_cur").cast("long").alias("n_cur"),
        F.round(F.sum(term).cast("double"), 6).alias("psi"),
    )
    return out.select(F.col("grp").alias(group_col), "n_ref", "n_cur", "psi")


def jsd_drift(
    df: DataFrame,
    split_expr,
    value_col: str = "value",
    group_col: str = "event_type",
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """Jensen-Shannon divergence per group between a reference and a
    current population over the SAME equal-width reference-frozen bins
    as :func:`psi_drift` (shared scaffold, so PSI and JSD read off one
    binning convention and are directly comparable):

        JSD(p, q) = 0.5 Σ_i p_i ln(2 p_i / (p_i + q_i))
                  + 0.5 Σ_i q_i ln(2 q_i / (p_i + q_i))

    with the same add-``smoothing`` Laplace terms. Unlike PSI, JSD is
    BOUNDED: 0 ≤ JSD ≤ ln 2 ≈ 0.6931 (nats), symmetric in (p, q), and
    finite even for disjoint supports — the property that makes it the
    drift score of choice when downstream alerting needs a normalized
    0..1 scale (divide by ln 2). Identical smoothed histograms give
    exactly 0.

    Determinism/parity: each bin's term is rounded to 9 decimals and
    summed as DECIMAL (order-independent — the q97/q120 device); only
    the per-term double arithmetic runs in float, expression-order
    mirrored by the q172 oracle. NaN/NULL handling, bin clamping and
    the zero-width-range guard are inherited from the shared scaffold.

    Scale shape: identical to PSI — one O(groups) range pass, one
    map-side-combinable (group, side, bin) count, then O(groups x
    bins) state. Never a per-row window.
    """
    full = _drift_bin_counts(df, split_expr, value_col, group_col, n_bins)
    return jsd_from_bin_counts(
        full, group_col=group_col, n_bins=n_bins, smoothing=smoothing
    )


def jsd_from_bin_counts(
    full: DataFrame,
    group_col: str = "event_type",
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """JSD from an already-binned complete count frame (grp, bin, cr,
    cc) — the tail of :func:`jsd_drift`, split out (the
    psi_from_bin_counts pattern) so reference-frozen (group, bin)
    counts maintained as fold state give bit-equal JSD to the batch
    operator. Expects every (grp, bin) cell present (zeros
    included)."""
    tot = full.groupBy("grp").agg(
        F.sum("cr").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    s = float(smoothing)
    denom_add = s * n_bins
    with_tot = full.join(F.broadcast(tot), "grp")
    p = (F.col("cr").cast("double") + F.lit(s)) / (
        F.col("n_ref").cast("double") + F.lit(denom_add)
    )
    q = (F.col("cc").cast("double") + F.lit(s)) / (
        F.col("n_cur").cast("double") + F.lit(denom_add)
    )
    m = p + q
    term = F.round(
        F.lit(0.5) * p * (F.log(F.lit(2.0) * p) - F.log(m))
        + F.lit(0.5) * q * (F.log(F.lit(2.0) * q) - F.log(m)),
        9,
    ).cast("decimal(18,9)")
    out = with_tot.groupBy("grp").agg(
        F.max("n_ref").cast("long").alias("n_ref"),
        F.max("n_cur").cast("long").alias("n_cur"),
        F.round(F.sum(term).cast("double"), 6).alias("jsd"),
    )
    return out.select(F.col("grp").alias(group_col), "n_ref", "n_cur", "jsd")


def _ecdf_frames(df, split_expr, value_col, group_col):
    """Shared two-sample ECDF scaffolding for ks_drift / emd_drift:
    clean NaN/NULL, collapse to per-(group, distinct value) ref/cur
    counts, then per-group cumulative counts + totals + the per-group
    value rank in ONE group_rank_frame pass (for continuous values the
    collapsed frame is still O(rows), and a cumulative window
    partitioned by the low-cardinality group key would serialize each
    group through one task; separate totals would be a second consumer
    of the collapsed frame, recomputing it).
    Returns one frame: (grp, v, cr, cc, ccr, ccc, n_ref, n_cur, __gr)
    — cumulative/total counts exact longs, __gr the per-group ascending
    value rank (emd's lead(v) becomes a rank+1 self-join)."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("grp"),
        v.alias("v"),
        F.when(split_expr, F.lit(1)).otherwise(F.lit(0)).alias("__is_ref"),
    )
    per_v = clean.groupBy("grp", "v").agg(
        F.sum("__is_ref").cast("long").alias("cr"),
        F.sum(F.lit(1) - F.col("__is_ref")).cast("long").alias("cc"),
    )
    return group_rank_frame(
        per_v,
        ["grp"],
        ["v"],
        group_rank_col="__gr",
        group_count_col=None,
        sum_cols=["cr", "cc"],
    ).select(
        "grp",
        "v",
        "cr",
        "cc",
        F.col("cr__gcum").alias("ccr"),
        F.col("cc__gcum").alias("ccc"),
        F.col("cr__gtot").alias("n_ref"),
        F.col("cc__gtot").alias("n_cur"),
        "__gr",
    )


def ks_drift(
    df: DataFrame,
    split_expr,
    value_col: str = "value",
    group_col: str = "event_type",
    alpha_coeff: float = 1.3581015157406195,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift per group between a
    reference and a current population (``split_expr`` boolean: True =
    reference) — the nonparametric complement to :func:`psi_drift`
    (PSI needs binning choices; KS compares the full ECDFs).
    KS = max_v |F_ref(v) − F_cur(v)|, with ``drifted`` flagging
    KS > c(α)·sqrt((n+m)/(n·m)) for α = 0.05
    (c = sqrt(−ln(0.025)/2) ≈ 1.3581, passed as a literal so both
    engines parse the identical double).

    Determinism/parity: NaN excluded like NULL; the ECDF is computed
    on the COLLAPSED per-(group, value) count frame — cumulative sums
    are exact longs, the only float ops are the final two divisions
    and the abs/max over identical IEEE values, so the statistic is
    bit-stable without rounding tricks (round(6) on the exposed
    surface only). Groups missing one side emit NULL ks / false
    drifted (nullif guards).

    Scale shape: one map-side-combinable groupBy collapses to distinct
    values, then cumulative counts + totals from _ecdf_frames' single
    group_rank_frame pass (one range exchange, no group-partitioned
    window, no separate totals branch).
    """
    cum = _ecdf_frames(df, split_expr, value_col, group_col)
    d = cum.select(
        "grp",
        "n_ref",
        "n_cur",
        F.abs(
            F.col("ccr").cast("double")
            / F.nullif(F.col("n_ref").cast("double"), F.lit(0.0))
            - F.col("ccc").cast("double")
            / F.nullif(F.col("n_cur").cast("double"), F.lit(0.0))
        ).alias("__diff"),
    )
    out = d.groupBy("grp").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.max("__diff").alias("__ks"),
    )
    thresh = F.lit(alpha_coeff) * F.sqrt(
        (F.col("n_ref").cast("double") + F.col("n_cur").cast("double"))
        / F.nullif(
            F.col("n_ref").cast("double") * F.col("n_cur").cast("double"),
            F.lit(0.0),
        )
    )
    return out.select(
        F.col("grp").alias(group_col),
        "n_ref",
        "n_cur",
        F.round(F.col("__ks"), 6).alias("ks"),
        F.coalesce(F.col("__ks") > thresh, F.lit(False)).alias("drifted"),
    )


def ks_drift_binned(
    df: DataFrame,
    split_expr,
    value_col: str = "value",
    group_col: str = "event_type",
    n_bins: int = 64,
    alpha_coeff: float = 1.3581015157406195,
) -> DataFrame:
    """Histogram (fixed-bin) two-sample KS drift per group — the
    PRODUCTION variant of :func:`ks_drift` for continuous 100 TB
    columns, where distinct values ≈ rows and the exact ECDF's
    per-(group, value) frame stops being "collapsed" (the caveat
    SCALING.md records against q144). Values are bucketed into
    ``n_bins`` equal-WIDTH bins over the group's pooled [min, max]
    span; KS is the max CDF gap evaluated at bin boundaries. Because
    bin-boundary CDF values equal the true ECDFs at those points,
    binned KS ≤ exact KS always (max over a subset of evaluation
    points — pinned by test), i.e. the binning can only make the
    test more conservative, never inflate drift.

    Equal-width (not equal-frequency) is deliberate: the boundaries
    come from ONE min/max aggregate — no sort, no quantile sketch,
    no second pass — which is also what lets a streaming monitor
    freeze them as literals (the q141/streaming-PSI convention).

    Determinism/parity: NaN excluded like NULL; the bucket index is
    ``least(n_bins-1, floor((v-min)/span*n_bins))`` evaluated in
    IEEE double — both engines compute the identical bits, and the
    degenerate span == 0 group collapses to bucket 0 under an
    explicit guard (never a division by zero under ANSI). Cumulative
    counts are exact longs; the only float ops are the final two
    divisions + abs/max (the q144 posture); round(6) surface.
    Groups missing one side emit NULL ks / false drifted.

    Scale shape: one broadcast O(groups) min/max aggregate, one
    map-only bucket pass, one map-side-combinable groupBy to
    O(groups × n_bins), one per-group window over that bounded frame.
    State is O(groups × n_bins) regardless of input size.
    """
    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("grp"),
        v.cast("double").alias("v"),
        F.when(split_expr, F.lit(1)).otherwise(F.lit(0)).alias("__is_ref"),
    )
    span = clean.groupBy("grp").agg(
        F.min("v").alias("__lo"), F.max("v").alias("__hi")
    )
    width_ok = F.col("__hi") > F.col("__lo")
    bucket = F.when(
        width_ok,
        F.least(
            F.lit(int(n_bins) - 1),
            F.floor(
                (F.col("v") - F.col("__lo"))
                / (F.col("__hi") - F.col("__lo"))
                * F.lit(float(n_bins))
            ),
        ),
    ).otherwise(F.lit(0)).cast("int")
    per_b = (
        clean.join(F.broadcast(span), "grp")
        .select("grp", bucket.alias("b"), "__is_ref")
        .groupBy("grp", "b")
        .agg(
            F.sum("__is_ref").cast("long").alias("cr"),
            F.sum(F.lit(1) - F.col("__is_ref")).cast("long").alias("cc"),
        )
    )
    tot = per_b.groupBy("grp").agg(
        F.sum("cr").cast("long").alias("n_ref"),
        F.sum("cc").cast("long").alias("n_cur"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_b.select(
        "grp",
        F.sum("cr").over(w).alias("ccr"),
        F.sum("cc").over(w).alias("ccc"),
    )
    d = cum.join(F.broadcast(tot), "grp").select(
        "grp",
        "n_ref",
        "n_cur",
        F.abs(
            F.col("ccr").cast("double")
            / F.nullif(F.col("n_ref").cast("double"), F.lit(0.0))
            - F.col("ccc").cast("double")
            / F.nullif(F.col("n_cur").cast("double"), F.lit(0.0))
        ).alias("__diff"),
    )
    out = d.groupBy("grp").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.max("__diff").alias("__ks"),
    )
    thresh = F.lit(alpha_coeff) * F.sqrt(
        (F.col("n_ref").cast("double") + F.col("n_cur").cast("double"))
        / F.nullif(
            F.col("n_ref").cast("double") * F.col("n_cur").cast("double"),
            F.lit(0.0),
        )
    )
    return out.select(
        F.col("grp").alias(group_col),
        "n_ref",
        "n_cur",
        F.lit(int(n_bins)).alias("n_bins"),
        F.round(F.col("__ks"), 6).alias("ks_binned"),
        F.coalesce(F.col("__ks") > thresh, F.lit(False)).alias("drifted"),
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Benford first-significant-digit audit per group — the classic
    fraud/synthetic-data screen: observed leading-digit shares of a
    positive monetary column vs the Benford expectation
    P(d) = ln(1 + 1/d)/ln(10), plus the group-level chi-square
    statistic (8 dof) repeated on each digit row.

    Determinism/parity: the leading digit comes from the DECIMAL-CENTS
    STRING — ``substr(cast(round(x*100) as bigint), 1, 1)`` — never
    from log10/pow on the double (engines disagree in ULPs near exact
    powers of ten) and never from double→string (shortest-repr vs %g).
    Non-positive cents rows are excluded. The expected share is the
    ln-form expression evaluated identically by both engines (ln is
    bit-identical cross-engine; log10 is not). Chi-square terms are
    round(9)-then-DECIMAL summed (order-independent).

    Scale shape: map-only digit extraction, one groupBy on (group,
    digit), then the O(groups × 9) complete grid via sequence explode
    (zero-count digits must exist for the chi-square).
    """
    v = F.col(value_col)
    cents = F.round(v * 100).cast("long")
    # NaN/Infinity/huge guard BEFORE the ANSI long cast (a single NaN
    # row would abort the job with CAST_INVALID_INPUT; |v| >= 9e16
    # cents would overflow the cast)
    staged = (
        df.filter(v.isNotNull() & ~F.isnan(v) & (F.abs(v) < F.lit(9.0e16)))
        .select(F.col(group_col).alias("grp"), cents.alias("__cents"))
        .filter(F.col("__cents") > 0)
    )
    digits = staged.select(
        "grp",
        F.substring(F.col("__cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit"),
    )
    counts = digits.groupBy("grp", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = (
        counts.select("grp")
        .distinct()
        .select(
            "grp", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit")
        )
    )
    full = grid.join(counts, ["grp", "digit"], "left").select(
        "grp", "digit", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    tot = full.groupBy("grp").agg(F.sum("c").cast("long").alias("n"))
    with_tot = full.join(F.broadcast(tot), "grp")
    exp_share = F.log(
        F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
    ) / F.log(F.lit(10.0))
    n_d = F.col("n").cast("double")
    expected = n_d * exp_share
    # decimal(28,9): chi-square terms are unbounded (O(n) per group)
    # unlike the PSI terms — 18,9 would overflow ANSI-fatally exactly
    # when the deviation signal is strongest
    term = F.round(
        (F.col("c").cast("double") - expected)
        * (F.col("c").cast("double") - expected)
        / expected,
        9,
    ).cast("decimal(28,9)")
    staged2 = with_tot.select(
        "grp",
        "digit",
        "c",
        "n",
        F.round(exp_share, 6).alias("exp_share"),
        F.round(
            F.col("c").cast("double") / F.nullif(n_d, F.lit(0.0)), 6
        ).alias("obs_share"),
        term.alias("__term"),
    )
    chi2 = staged2.groupBy("grp").agg(
        F.round(F.sum("__term").cast("double"), 6).alias("chi2")
    )
    return (
        staged2.join(F.broadcast(chi2), "grp")
        .select(
            F.col("grp").alias(group_col),
            "digit",
            F.col("c").alias("n_obs"),
            "obs_share",
            "exp_share",
            "chi2",
        )
    )


def mean_shift_scan(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Offline changepoint scan per group: the split index k (1 ≤ k <
    n, by (ts, id) order) that maximizes |mean(v[1..k]) −
    mean(v[k+1..n])| — the single-changepoint mean-shift detector
    (CUSUM family) over an event series, reduced to one prefix-sum
    window plus a struct-argmax.

    Determinism/parity: values accumulate as DECIMAL(18,4) (the q125
    ledger device — both engines round the double to the same decimal)
    so every prefix sum and the total are exact; means are IEEE double
    divisions of identical decimals; the argmax tie-breaks on smaller
    k via max(struct(diff, −k)). NaN/NULL excluded up front.
    Single-row groups have no interior split and are absent.

    Scale shape: prefix sum, rank, group count
    and group total all come from ONE group_rank_frame pass (one range
    exchange — the former per-group sort window serialized each
    low-cardinality group through one task, and the totals branch
    consumed the cleaned frame a second time); then one struct-argmax
    groupBy. Never an all-splits self-join.
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("grp"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        v.cast("decimal(18,4)").alias("__v"),
    )
    cum = group_rank_frame(
        clean,
        ["grp"],
        ["__ts", "__id"],
        group_rank_col="__k",
        group_count_col="n",
        sum_cols=["__v"],
    )
    interior = cum.filter(F.col("__k") < F.col("n"))
    mean_l = F.col("__v__gcum").cast("double") / F.col("__k").cast("double")
    mean_r = (F.col("__v__gtot") - F.col("__v__gcum")).cast("double") / (
        F.col("n") - F.col("__k")
    ).cast("double")
    scored = interior.select(
        "grp",
        "n",
        F.struct(
            F.abs(mean_l - mean_r).alias("diff"),
            (-F.col("__k")).alias("negk"),
            F.col("__ts").alias("ts"),
            mean_l.alias("ml"),
            mean_r.alias("mr"),
        ).alias("__s"),
    )
    best = scored.groupBy("grp").agg(
        F.max("n").alias("n"), F.max("__s").alias("__b")
    )
    return best.select(
        F.col("grp").alias(group_col),
        "n",
        (-F.col("__b.negk")).cast("long").alias("split_k"),
        F.col("__b.ts").alias("split_ts"),
        F.round(F.col("__b.ml"), 6).alias("mean_left"),
        F.round(F.col("__b.mr"), 6).alias("mean_right"),
        F.round(F.abs(F.col("__b.ml") - F.col("__b.mr")), 6).alias("shift"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information between two categorical columns, with the
    per-cell pointwise MI (PMI) — the feature-association /
    collocation measure: MI = Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y))),
    PMI(x,y) = ln(n·c_xy/(c_x·c_y)). Emitted at the observed-cell
    grain (empty cells contribute exactly 0 to MI, so the observed
    support IS the sum's support) with the total MI repeated per row.

    Determinism/parity: all counts are exact longs; each PMI is one
    ln of one IEEE ratio of exact counts (ln is bit-identical across
    engines); MI terms are round(9)-then-DECIMAL summed
    (order-independent). NULL categories are kept as their own level
    (they survive groupBy keys).

    Scale shape: one groupBy on (x, y) collapses to the cell frame;
    marginals and the total are WINDOW sums over that collapsed frame
    (never rescans of the data, and window partitions treat NULL as
    one group — no NULL-key equi-join loss). The single-partition
    global window is over O(cells) rows only, never the raw data.
    """
    cells = df.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    joined = cells.select(
        "x",
        "y",
        "c_xy",
        F.sum("c_xy").over(Window.partitionBy("x")).cast("long").alias("c_x"),
        F.sum("c_xy").over(Window.partitionBy("y")).cast("long").alias("c_y"),
        F.sum("c_xy").over(Window.partitionBy()).cast("long").alias("n"),
    )
    pmi = F.log(
        F.col("n").cast("double")
        * F.col("c_xy").cast("double")
        / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
    )
    term = F.round(
        F.col("c_xy").cast("double") / F.col("n").cast("double") * pmi, 9
    ).cast("decimal(18,9)")
    staged = joined.select(
        "x", "y", "c_xy", F.round(pmi, 6).alias("pmi"), term.alias("__term")
    )
    mi = staged.agg(
        F.round(F.sum("__term").cast("double"), 6).alias("mi")
    )
    return staged.crossJoin(F.broadcast(mi)).select(
        F.col("x").alias(x_col),
        F.col("y").alias(y_col),
        F.col("c_xy").alias("n_xy"),
        "pmi",
        "mi",
    )


def trimmed_winsor_summary(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    trim_pct: int = 10,
) -> DataFrame:
    """Robust per-group location summary: the ``trim_pct``-trimmed
    mean (drop the k = floor(n·pct/100) smallest and largest values)
    and the winsorized mean (CLAMP those k values to the surviving
    min/max instead of dropping them) — the outlier-robust
    complements to q78's MAD flags and q82's robust scaler.

    Determinism/parity: k is integer arithmetic (``n*pct div 100``);
    membership comes from a per-group row_number over the value order
    (ties are interchangeable for every emitted statistic, so the
    tie order is irrelevant); sums accumulate in DECIMAL(28,12); the
    winsorized sum is derived EXACTLY as sum_kept + k·lo + k·hi in
    decimal (lo/hi are the surviving boundary ELEMENTS — never an
    interpolated percentile), so no second clamping pass exists at
    all. Means are final IEEE divisions, rounded at the surface.
    NaN/NULL excluded up front.

    Scale shape: per-group rank + count from one
    group_rank_frame pass (one range exchange — the former per-group
    sort window serialized each low-cardinality group through one
    task), one map-side-combinable groupBy — the q126 posture. At
    100 TB with heavy groups, the production variant derives k-bounds
    from a quantile sketch and clamps in a map-only pass; this exact
    form is the oracle-checkable reference semantics.
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    gcols = list(group_cols)
    v = F.col(value_col)
    staged = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        *gcols, v.alias("__v")
    )
    ranked = group_rank_frame(
        staged, gcols, ["__v"], group_rank_col="__rk", group_count_col="__n"
    )
    k = F.expr(f"__n * {int(trim_pct)} div 100")
    kept = (F.col("__rk") > k) & (F.col("__rk") <= F.col("__n") - k)
    vdec = F.col("__v").cast("decimal(28,12)")
    agg = ranked.groupBy(*gcols).agg(
        F.max("__n").alias("n"),
        F.max(k).alias("k_trim"),
        F.sum(F.when(kept, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("__cnt_kept"),
        F.sum(F.when(kept, vdec)).alias("__sum_kept"),
        F.min(F.when(kept, F.col("__v"))).alias("lo"),
        F.max(F.when(kept, F.col("__v"))).alias("hi"),
    )
    # (26,12) x (11,0) -> precision 26+11+1 = 38: stays inside Spark's
    # decimal cap, so the product is EXACT — (28,12) x long would need
    # precision 49 and be silently rounded to scale 6.
    # The ADDITIONS must stay exact too: (38,12)+(38,12) would need
    # precision 39, which Spark's precision-loss rule caps at (38,11)
    # — rounding the 12th fractional digit while DuckDB keeps scale
    # 12. Downcasting each addend to (36,12) (headroom 10^24,
    # far above any 100 TB sum of prices) makes the chain
    # (36,12)+(36,12)->(37,12), +(36,12)->(38,12): uncapped, EXACT,
    # bit-matching the oracle at full scale.
    kd = F.col("k_trim").cast("decimal(11,0)")
    a12 = "decimal(36,12)"
    win_sum = (
        F.col("__sum_kept").cast(a12)
        + (F.col("lo").cast("decimal(26,12)") * kd).cast(a12)
        + (F.col("hi").cast("decimal(26,12)") * kd).cast(a12)
    )
    return agg.select(
        *gcols,
        "n",
        "k_trim",
        "lo",
        "hi",
        F.round(
            F.col("__sum_kept").cast("double")
            / F.nullif(F.col("__cnt_kept").cast("double"), F.lit(0.0)),
            6,
        ).alias("trimmed_mean"),
        F.round(
            win_sum.cast("double")
            / F.nullif(F.col("n").cast("double"), F.lit(0.0)),
            6,
        ).alias("winsor_mean"),
    )


def grouped_auc(
    df: DataFrame,
    score_col: str,
    label_expr,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """ROC-AUC of ``score_col`` as a ranker for the boolean
    ``label_expr``, per group — the Mann–Whitney U form with the
    standard tie correction (tied scores contribute half): AUC =
    Σ_v n_pos(v)·(N_neg(<v) + n_neg(v)/2) / (N_pos·N_neg), computed
    over the COLLAPSED per-(group, score) count frame.

    Determinism/parity: every term is exact integer arithmetic in
    doubled units (contrib2 = n_pos·(2·cum_neg_below + n_neg) keeps
    the half-tie credit integral); the single float op is the final
    division by 2·N_pos·N_neg, rounded at the surface. Groups missing
    a class emit NULL auc (nullif guard). NaN/NULL scores excluded.

    Scale shape: one map-side-combinable groupBy collapses rows to
    distinct scores; the per-group cumulative negative count over that
    collapsed frame comes from operators/prefix.group_rank_frame (ONE
    range exchange — for CONTINUOUS scores the collapsed frame is
    still O(rows), and a window partitioned by the low-cardinality
    group key would serialize each group through one task).
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    gcols = list(group_cols)
    s = F.col(score_col)
    staged = df.filter(s.isNotNull() & ~F.isnan(s)).select(
        *gcols,
        s.alias("__s"),
        F.when(label_expr, F.lit(1)).otherwise(F.lit(0)).alias("__pos"),
    )
    per_s = staged.groupBy(*gcols, "__s").agg(
        F.sum("__pos").cast("long").alias("cp"),
        F.sum(F.lit(1) - F.col("__pos")).cast("long").alias("cn"),
    )
    cum = group_rank_frame(
        per_s,
        gcols,
        ["__s"],
        group_rank_col=None,
        group_count_col=None,
        sum_cols=["cn"],
    )
    # (18,0) x (19,0) decimal product + decimal sum: contrib2 can reach
    # 2n^2 per group, overflowing int64 (ANSI-fatally) near ~3e9 rows
    # per group — decimals carry it to ~1e37
    contrib = cum.select(
        *gcols,
        "cp",
        "cn",
        (
            F.col("cp").cast("decimal(18,0)")
            * (
                F.lit(2) * (F.col("cn__gcum") - F.col("cn"))
                + F.col("cn")
            ).cast("decimal(19,0)")
        ).alias("__contrib2"),
    )
    agg = contrib.groupBy(*gcols).agg(
        F.sum("cp").cast("long").alias("n_pos"),
        F.sum("cn").cast("long").alias("n_neg"),
        F.sum("__contrib2").alias("__c2"),
    )
    return agg.select(
        *gcols,
        "n_pos",
        "n_neg",
        F.round(
            F.col("__c2").cast("double")
            / F.nullif(
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("auc"),
    )


def grouped_average_precision(
    df: DataFrame,
    score_col: str,
    label_expr,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) of ``score_col`` as a ranker for the boolean
    ``label_expr``, per group — the PR-space counterpart to
    :func:`grouped_auc`: under heavy class imbalance ROC-AUC saturates
    (the FPR denominator is the huge negative class) while AP stays
    anchored to precision, which is why retrieval/filter tuning reads
    AP. Threshold-sweep definition (sklearn's
    ``average_precision_score``): AP = Σ_k (R_k − R_{k−1})·P_k over
    distinct-score thresholds, which over tie blocks collapses to

        AP = (1/N_pos) Σ_v n_pos(v) · cumP(v) / (cumP(v) + cumN(v))

    with cum counts taken over scores >= v (descending). Tie-correct
    and deterministic: tied scores form ONE threshold, so no
    row-order dependence anywhere. Also emits ``prevalence`` =
    N_pos/N — the AP of a random ranker, the floor to read ``ap``
    against (a perfect ranker scores 1.0 regardless of imbalance).

    Determinism/parity: the term numerator n_pos(v)·cumP(v) is exact
    integer (decimal-carried, same overflow posture as grouped_auc);
    one IEEE division per distinct score, rounded at 9 and summed as
    DECIMAL (order-independent), one final division by N_pos rounded
    at 6. Groups with zero positives emit NULL ap (nullif guard).
    NaN/NULL scores excluded.

    Scale shape: one map-side-combinable groupBy collapses rows to
    distinct scores; the per-group DESCENDING cum counts over that
    collapsed frame derive from group_rank_frame's ascending running
    sums (cum_desc = group_total − cum_asc + current, exact integer) —
    ONE range exchange, no group-partitioned window (for CONTINUOUS
    scores the collapsed frame is still O(rows)).
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    gcols = list(group_cols)
    s = F.col(score_col)
    staged = df.filter(s.isNotNull() & ~F.isnan(s)).select(
        *gcols,
        s.alias("__s"),
        F.when(label_expr, F.lit(1)).otherwise(F.lit(0)).alias("__pos"),
    )
    per_s = staged.groupBy(*gcols, "__s").agg(
        F.sum("__pos").cast("long").alias("cp"),
        F.sum(F.lit(1) - F.col("__pos")).cast("long").alias("cn"),
    )
    asc = group_rank_frame(
        per_s,
        gcols,
        ["__s"],
        group_rank_col=None,
        group_count_col=None,
        sum_cols=["cp", "cn"],
    )
    cump = F.col("cp__gtot") - F.col("cp__gcum") + F.col("cp")
    cumn = F.col("cn__gtot") - F.col("cn__gcum") + F.col("cn")
    cum = asc.select(
        *gcols,
        "cp",
        "cn",
        cump.alias("__cump"),
        (cump + cumn).alias("__cumt"),
    )
    term = F.round(
        (
            F.col("cp").cast("decimal(18,0)")
            * F.col("__cump").cast("decimal(19,0)")
        ).cast("double")
        / F.col("__cumt").cast("double"),
        9,
    ).cast("decimal(28,9)")
    agg = cum.groupBy(*gcols).agg(
        F.sum("cp").cast("long").alias("n_pos"),
        F.sum("cn").cast("long").alias("n_neg"),
        F.sum(term).alias("__tsum"),
    )
    return agg.select(
        *gcols,
        "n_pos",
        "n_neg",
        F.round(
            F.col("__tsum").cast("double")
            / F.nullif(F.col("n_pos").cast("double"), F.lit(0.0)),
            6,
        ).alias("ap"),
        F.round(
            F.col("n_pos").cast("double")
            / (F.col("n_pos") + F.col("n_neg")).cast("double"),
            6,
        ).alias("prevalence"),
    )


def grouped_ols2(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-feature least squares per group, solved in closed form from
    the normal equations — the multi-feature extension of q97's
    single-feature trend: y = b0 + b1·x1 + b2·x2 with the 2×2 system
    inverted symbolically (Cramer), plus R².

    Determinism/parity: the ten raw moments (n, Σx1, Σx2, Σy, Σx1²,
    Σx1x2, Σx2², Σx1y, Σx2y, Σy²) accumulate as DECIMAL(18,4)
    products — exact, hence order-independent across partitions (the
    q39 device; Spark's native regr_* aggregates are double
    accumulations and are not). Everything after is double algebra on
    identical exact inputs, expression-order mirrored by the oracle.
    Singular groups (det 0 — collinear or constant features) emit
    NULL coefficients via nullif. NaN/NULL rows excluded.

    Scale shape: ONE map-side-combinable aggregate pass — no second
    pass, no windows, no matrix library; the closed form keeps the
    whole fit inside whole-stage codegen.
    """
    gcols = list(group_cols)
    yv, x1v, x2v = F.col(y_col), F.col(x1_col), F.col(x2_col)
    clean = df.filter(
        yv.isNotNull()
        & ~F.isnan(yv)
        & x1v.isNotNull()
        & ~F.isnan(x1v)
        & x2v.isNotNull()
        & ~F.isnan(x2v)
    )
    y = yv.cast("decimal(18,4)")
    x1 = x1v.cast("decimal(18,4)")
    x2 = x2v.cast("decimal(18,4)")
    m = clean.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n")
    S11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    S12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    S22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    S1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    S2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    Syy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = S11 * S22 - S12 * S12
    b1 = (S22 * S1y - S12 * S2y) / F.nullif(det, F.lit(0.0))
    b2 = (S11 * S2y - S12 * S1y) / F.nullif(det, F.lit(0.0))
    b0 = (F.col("sy") - b1 * F.col("s1") - b2 * F.col("s2")) / n
    r2 = (b1 * S1y + b2 * S2y) / F.nullif(Syy, F.lit(0.0))
    return m.select(
        *gcols,
        n.cast("long").alias("n"),
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
    )


def grouped_acf(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    max_lag: int = 3,
) -> DataFrame:
    """Autocorrelation function per group for lags 1..``max_lag``: the
    Pearson correlation of the (x_t, x_{t−k}) lagged pairs in (ts, id)
    order — the pairwise-ACF variant (each lag standardizes over its
    own pair set; the classical fixed-global-mean estimator differs in
    the tails, and THIS form is the one expressible as exact moments).

    Determinism/parity: one lag window per k sharing one per-group
    sort; pairs unpivot via ``stack`` into (group, lag) long form; the
    six co-moments accumulate as DECIMAL(18,4) products (the q39
    device — order-independent), and the Pearson algebra runs on
    identical exact doubles in both engines. Lags beyond a group's
    length yield no pairs and emit no row. NaN/NULL excluded up front.

    Scale shape: one per-group sort feeds all lag columns, one
    map-side-combinable groupBy on (group, lag) — never a self-join
    on shifted copies.
    """
    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("grp"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        v.alias("__v"),
    )
    # The lag pairs come from a per-group rank
    # (group_rank_frame — one range exchange) and a (grp, rank − k)
    # self-join instead of lag windows partitioned by the
    # low-cardinality group key (which serialized each group through
    # one task). The join key (grp, rank) is high-cardinality and
    # uniform; the inner join drops out-of-range lags exactly like the
    # windows' NULL filter. Pair sets — and therefore every moment —
    # are identical ((ts, id) is a total order).
    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    ranked = group_rank_frame(
        clean,
        ["grp"],
        ["__ts", "__id"],
        group_rank_col="__r",
        group_count_col=None,
    ).persist()
    lhs = ranked.select(
        "grp",
        F.col("__v").alias("x"),
        "__r",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
        ).alias("lag"),
    ).withColumn("__rt", F.col("__r") - F.col("lag"))
    rhs = ranked.select(
        "grp", F.col("__r").alias("__rt"), F.col("__v").alias("y")
    )
    pairs = lhs.join(rhs, ["grp", "__rt"])
    xd = F.col("x").cast("decimal(18,4)")
    yd = F.col("y").cast("decimal(18,4)")
    m = pairs.groupBy("grp", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    out = m.select(
        F.col("grp").alias(group_col),
        F.col("lag").cast("int").alias("lag"),
        n.cast("long").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)), 6
        ).alias("acf"),
    )
    return attach_cache_release(out, [ranked])


def fk_orphan_report(
    relations: Sequence[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit across fact→dimension links: for
    each (name, child, fk_col, parent, pk_col) relation emit child
    row count, NULL-FK count, orphan count (non-NULL FK with no
    parent), and the orphan rate — the standing data-quality gate a
    warehouse runs after every load.

    NULL story (the standing isin/NULL-key rule): a NULL FK is NOT an
    orphan — it falls out of any equi-join and would silently inflate
    the orphan count; it is filtered first and reported in its own
    column.

    Scale shape per relation: one aggregate over the child, one
    left_anti against the parent's DISTINCT keys (broadcast when the
    dimension is small, shuffle otherwise — exactly the join the load
    itself would do), one 1-row × 1-row crossJoin to assemble the
    report row. Relations union into one O(relations) frame.
    """
    if not relations:
        raise ValueError("fk_orphan_report: relations must be non-empty")
    rows = []
    for name, child, fk, parent, pk in relations:
        fkc = F.col(fk)
        stats = child.agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.count(F.when(fkc.isNull(), F.lit(1)))
            .cast("long")
            .alias("n_null_fk"),
        )
        orphans = (
            child.filter(fkc.isNotNull())
            .select(fkc.alias("__fk"))
            .join(
                parent.select(F.col(pk).alias("__pk")).distinct(),
                F.col("__fk") == F.col("__pk"),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )
        rows.append(
            stats.crossJoin(orphans).select(
                F.lit(name).alias("relation"),
                "n_child",
                "n_null_fk",
                "n_orphans",
                F.round(
                    F.col("n_orphans").cast("double")
                    / F.nullif(
                        (F.col("n_child") - F.col("n_null_fk")).cast(
                            "double"
                        ),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("orphan_rate"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def emd_drift(
    df: DataFrame,
    split_expr,
    value_col: str = "value",
    group_col: str = "event_type",
) -> DataFrame:
    """1-D earth-mover's (Wasserstein-1) drift per group between a
    reference and a current population: EMD = ∫|F_ref − F_cur| dv,
    evaluated exactly as Σ |F_ref(v_i) − F_cur(v_i)|·(v_{i+1} − v_i)
    over consecutive distinct values — the magnitude-aware complement
    to :func:`ks_drift` (KS reports the worst gap, EMD how much mass
    moved how far).

    Determinism/parity: same collapsed per-(group, value) ECDF frame
    as KS (cumulative sums exact longs); each segment term is two IEEE
    divisions, one subtraction, one multiplication on identical
    doubles, then round(9)-DECIMAL summed (order-independent). The
    last distinct value has no segment (lead is NULL) and contributes
    nothing — both ECDFs are 1 there anyway. One-sided groups emit
    NULL emd.

    Scale shape: identical to ks_drift — one map-side-combinable
    collapse, cumulative counts from _ecdf_frames' group_rank_frame
    pass; the former lead(v) window is a (grp, rank+1) equi-join on
    the persisted cum frame (no group-partitioned window anywhere).
    """
    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )

    cum = _ecdf_frames(df, split_expr, value_col, group_col).persist()
    nxt = cum.select(
        "grp",
        (F.col("__gr") - 1).alias("__gr"),
        F.col("v").alias("__vnext"),
    )
    seg = cum.join(nxt, ["grp", "__gr"], "left")
    fr = F.col("ccr").cast("double") / F.nullif(
        F.col("n_ref").cast("double"), F.lit(0.0)
    )
    fc = F.col("ccc").cast("double") / F.nullif(
        F.col("n_cur").cast("double"), F.lit(0.0)
    )
    term = F.round(
        F.abs(fr - fc) * (F.col("__vnext") - F.col("v")), 9
    ).cast("decimal(28,9)")
    out = seg.groupBy("grp").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.sum(term).cast("double").alias("__emd_raw"),
    )
    # A two-sided group with ONE distinct value has no segments (lead
    # is NULL) but IS comparable with zero drift — emit 0.0, reserving
    # NULL for genuinely one-sided groups (ks_drift's 0.0 for the same
    # input is the model).
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    res = out.select(
        F.col("grp").alias(group_col),
        "n_ref",
        "n_cur",
        F.when(
            both,
            F.round(F.coalesce(F.col("__emd_raw"), F.lit(0.0)), 6),
        ).alias("emd"),
    )
    return attach_cache_release(res, [cum])


# Poisson(1) CDF thresholds for the md5-uniform inverse-CDF draw in
# bootstrap_mean_ci. Shared literal TEXT with the SQL oracle — both
# engines parse the identical doubles, so every weight is identical.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
    0.9999988747974177,
)
def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_col: str,
    n_replicates: int = 100,
    alpha_pct: int = 5,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the per-group mean
    — error bars for any aggregate metric without collecting data or
    keeping RNG state. The Poisson bootstrap (Chamandy et al.): each
    row's weight in replicate b is Poisson(1)-distributed, drawn by
    inverse-CDF from a DETERMINISTIC uniform — md5(id) seeds a
    counter-based minstd stream whose b-th draw is the closed form
    (48271^b mod M)·seed mod M — so the resample is reproducible on
    any engine, any partitioning, any retry, with zero seed plumbing.

    Determinism/parity: the seed is the portable 60-bit md5 prefix
    (the engine-portable hash device) folded into [1, M−1]; the
    per-replicate multipliers are precomputed literals and every draw
    is one exact int64 multiply+mod ((M−1)² < 2^63) mirrored verbatim
    by the oracle; the CDF thresholds are shared literal text; weighted sums accumulate in
    DECIMAL; replicate means are IEEE divisions; the CI bounds are
    nearest-rank ELEMENTS of the replicate means (never interpolated),
    with (mean, b) ordering so ties are deterministic. Replicates
    whose weights all drew 0 (tiny groups) vanish, and ranks derive
    from the surviving count. NaN/NULL excluded.

    Scale shape: one explode (×B) over the rows — embarrassingly
    map-parallel — then a map-side-combinable groupBy to O(groups × B)
    replicate means and an O(B) window per group. At 100 TB you bound
    B, not the data.
    """
    gcols = list(group_cols)
    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        *gcols,
        F.col(id_col).cast("string").alias("__id"),
        v.alias("__v"),
    )
    # ONE md5 per row (not per replicate — measured 13x the whole
    # query's cost at B=100), then B counter-based minstd draws by the
    # closed form x_b = (48271^b mod M)·seed mod M, M = 2^31−1: the
    # multipliers are B precomputed literals, the per-replicate work is
    # one int64 multiply+mod (exact in both engines; (M−1)² < 2^63),
    # and the whole stream stays reproducible with zero RNG state.
    M = 2147483647
    mults = []
    a = 1
    for _ in range(n_replicates):
        mults.append(a)
        a = (a * 48271) % M
    seed = (
        F.conv(F.substring(F.md5(F.col("__id")), 1, 15), 16, 10)
        .cast("long")
        % F.lit(M - 1)
        + F.lit(1)
    )
    # Fan the ×B explode out across the cluster (input skew): the heavy
    # stage below does B× the scan's row count of CDF-chain work, and a
    # single-row-group (or gzip) input pins all of it to one scan task.
    # A deterministic hash repartition on the unique id moves the
    # PRE-explode rows (1/B of the downstream work) exactly once —
    # bounded insurance at any scale, and it makes the replicate pass
    # scale with cores instead of with input row groups. Hash, not
    # round-robin: no sort-before-repartition pass, stable under task
    # retry (SPARK-38388).
    # numPartitions pinned to defaultParallelism (cores — scale-
    # adaptive, not a constant): without it AQE coalesces this tiny
    # pre-explode exchange (~1 MB shuffled) back to ONE partition by
    # byte size and re-serializes the ×B compute it exists to spread.
    seeded = clean.select(*gcols, "__v", seed.alias("__seed")).repartition(
        clean.sparkSession.sparkContext.defaultParallelism,
        F.col("__seed"),
    )
    rep = seeded.select(
        *gcols,
        "__v",
        "__seed",
        F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("b"),
    )
    mult_arr = F.array(*[F.lit(m) for m in mults])
    u = (
        (F.element_at(mult_arr, F.col("b") + 1) * F.col("__seed"))
        % F.lit(M)
    ).cast("double") / F.lit(float(M))
    w = F.lit(len(POISSON1_CDF))
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    weighted = rep.select(
        *gcols,
        "b",
        w.cast("long").alias("__w"),
        F.col("__v").cast("decimal(18,4)").alias("__vd"),
    )
    means = (
        weighted.groupBy(*gcols, "b")
        .agg(
            F.sum("__w").cast("long").alias("__nw"),
            F.sum(F.col("__vd") * F.col("__w").cast("decimal(9,0)")).alias(
                "__sw"
            ),
        )
        .filter(F.col("__nw") > 0)
        .select(
            *gcols,
            "b",
            (
                F.col("__sw").cast("double") / F.col("__nw").cast("double")
            ).alias("__mb"),
        )
    )
    w_rank = Window.partitionBy(*gcols).orderBy("__mb", "b")
    ranked = means.select(
        *gcols,
        "__mb",
        F.row_number().over(w_rank).cast("long").alias("__rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy(*gcols))
        .cast("long")
        .alias("__m"),
    )
    k_lo = F.expr(f"__m * {int(alpha_pct)} div 200") + F.lit(1)
    k_hi = F.col("__m") - F.expr(f"__m * {int(alpha_pct)} div 200")
    ci = ranked.groupBy(*gcols).agg(
        F.max("__m").cast("long").alias("n_replicates"),
        F.min(F.when(F.col("__rk") == k_lo, F.col("__mb"))).alias("__lo"),
        F.min(F.when(F.col("__rk") == k_hi, F.col("__mb"))).alias("__hi"),
    )
    base = clean.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("__v").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__mean"),
    )
    return base.join(ci, gcols).select(
        *gcols,
        "n",
        F.round(F.col("__mean"), 6).alias("mean"),
        "n_replicates",
        F.round(F.col("__lo"), 6).alias("ci_lo"),
        F.round(F.col("__hi"), 6).alias("ci_hi"),
    )


def km_survival(
    df: DataFrame,
    dur_col: str = "dur",
    event_col: str = "evt",
) -> DataFrame:
    """Kaplan–Meier survival estimator over a (duration, event) frame
    (event=1 observed, 0 right-censored): S(t_i) = Π_{t_j ≤ t_i}
    (1 − d_j/n_j) — time-to-event analysis (conversion latency, churn,
    failure) computed relationally.

    Determinism/parity: collapse to distinct times FIRST (counts per
    duration), so the ordered windows run over O(distinct times); the
    product becomes exp(Σ ln(1 − d/n)) with each ln term round(9)-
    DECIMAL cumsummed (exact at every prefix; ln bit-identical
    cross-engine, exp stable under the round(6) surface). The
    everyone-dies time (d = n_at_risk) would be ln(0) — NULL in Spark
    but −inf in DuckDB — so it is special-cased to survival 0
    explicitly in both engines. Censor-only times contribute to the
    risk set but emit no row (KM convention).

    Scale shape: one map-side-combinable collapse, then single-ordered
    windows over the distinct-time frame — O(distinct durations), not
    O(subjects); the global window is on the collapsed frame only.
    """
    e = F.col(event_col).cast("long")
    per_t = df.groupBy(F.col(dur_col).alias("t")).agg(
        F.sum(e).alias("d"),
        F.sum(F.lit(1) - e).alias("c"),
    )
    n_row = per_t.agg(F.sum(F.col("d") + F.col("c")).alias("__N"))
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = per_t.crossJoin(F.broadcast(n_row)).select(
        "t",
        "d",
        "c",
        (
            F.col("__N")
            - (F.sum(F.col("d") + F.col("c")).over(w) - (F.col("d") + F.col("c")))
        )
        .cast("long")
        .alias("n_risk"),
    )
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_risk").cast("double")
            ),
            9,
        ).cast("decimal(28,9)"),
    )
    curved = staged.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.sum(term).over(w).alias("__cum"),
    )
    return (
        curved.filter(F.col("d") > 0)
        .select(
            F.col("t").alias(dur_col),
            F.col("n_risk"),
            F.col("d").cast("long").alias("n_events"),
            F.col("c").cast("long").alias("n_censored"),
            F.when(F.col("d") == F.col("n_risk"), F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("__cum").cast("double")), 6))
            .alias("survival"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """CDC-style diff of two snapshots of one table: per-key
    added / removed / modified / unchanged classification — the
    regression gate a pipeline runs between yesterday's output and
    today's (the relational core of data-diff tools).

    Determinism/parity: rows match on key; change detection compares
    an md5 over the ``compare_cols`` rendered through concat_ws with a
    NULL sentinel (concat_ws SKIPS nulls, so ('a', NULL) and ('a')
    would collide without it — every column is coalesced to a sentinel
    first, and a unit separator keeps ('ab','c') ≠ ('a','bc')).
    Classification is NULL-flag logic on the full-outer join; keys
    match via eqNullSafe, i.e. NULL is treated as a REAL key value (a
    NULL-keyed row pair classifies unchanged/modified, never
    added+removed — and multiple NULL-keyed rows per side cross-match
    as one key). SQL mirrors must join with IS NOT DISTINCT FROM, not
    USING, to reproduce this (q161 does). CALLER CONTRACT:
    raw double columns must be pre-rendered to a stable form (e.g.
    exact integer cents) before fingerprinting — double→string is NOT
    cross-engine stable (shortest-repr vs %g).

    Scale shape: one full-outer shuffle join on the key (the minimal
    possible cost — both sides must meet), map-only hashing, one
    map-side-combinable count rollup. For repeated diffs at 100 TB,
    bucket both snapshots on the key (``bucketBy``) to make the join
    zero-exchange.
    """
    kcols = list(key_cols)

    fingerprint = F.md5(
        F.concat_ws(
            "<|>",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("<null>"))
                for c in compare_cols
            ],
        )
    )
    o = old.select(
        *[F.col(k).alias(f"__k{i}") for i, k in enumerate(kcols)],
        fingerprint.alias("__fp_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk{i}") for i, k in enumerate(kcols)],
        fingerprint.alias("__fp_new"),
    )
    cond = None
    for i in range(len(kcols)):
        c = F.col(f"__k{i}").eqNullSafe(F.col(f"__nk{i}"))
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") == F.col("__fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return (
        joined.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def seasonal_mase(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    season_hours: int = 24,
) -> DataFrame:
    """Forecast-evaluation baseline per group: MASE of the
    seasonal-naive forecast (this hour = same hour yesterday) on the
    hourly event-count series, scaled by the one-step-naive MAE — the
    standard scale-free test of whether a series has exploitable
    seasonality (MASE < 1: seasonal-naive beats last-value).

    Determinism/parity: the series is the q13 tumbling-hour COUNT grid
    (exact longs; missing hours count 0 via a sequence-exploded
    complete grid per group over the group's own span); lags are
    positional over the complete grid so they equal time-shifts;
    absolute errors are integer |Δ|, summed as longs; the single float
    op is the final ratio of two exact means. Groups whose span is
    shorter than the season emit NULL mase (nullif).

    Scale shape: one map-side-combinable hour collapse, a per-group
    sequence-exploded grid (O(span-hours)), one per-group window sort
    for the two lags — all over the collapsed O(groups × hours) frame.
    """
    hours = df.select(
        F.col(group_col).alias("grp"),
        F.date_trunc("hour", F.col(ts_col)).alias("h"),
    )
    counts = hours.groupBy("grp", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    span = counts.groupBy("grp").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "grp",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("h"),
    )
    full = grid.join(counts, ["grp", "h"], "left").select(
        "grp", "h", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    w = Window.partitionBy("grp").orderBy("h")
    lagged = full.select(
        "grp",
        "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", season_hours).over(w).alias("ls"),
    )
    agg = lagged.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.abs(F.col("c") - F.col("ls"))).cast("long").alias("__se"),
        F.count(F.col("ls")).cast("long").alias("__sn"),
        F.sum(F.abs(F.col("c") - F.col("l1"))).cast("long").alias("__ne"),
        F.count(F.col("l1")).cast("long").alias("__nn"),
    )
    mase = (
        F.col("__se").cast("double")
        / F.nullif(F.col("__sn").cast("double"), F.lit(0.0))
    ) / F.nullif(
        F.col("__ne").cast("double")
        / F.nullif(F.col("__nn").cast("double"), F.lit(0.0)),
        F.lit(0.0),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_hours",
        F.round(
            F.col("__se").cast("double")
            / F.nullif(F.col("__sn").cast("double"), F.lit(0.0)),
            6,
        ).alias("seasonal_mae"),
        F.round(
            F.col("__ne").cast("double")
            / F.nullif(F.col("__nn").cast("double"), F.lit(0.0)),
            6,
        ).alias("naive_mae"),
        F.round(mase, 6).alias("mase"),
    )


def stratified_ate(
    df: DataFrame,
    outcome_col: str,
    treatment_expr,
    strata_cols: Sequence[str],
) -> DataFrame:
    """Stratified average-treatment-effect estimate: within each
    stratum the treated-vs-control difference of outcome means, and
    the overall ATE as the stratum-size-weighted combination — the
    exact-matching / post-stratification causal baseline (the
    count-based propensity case of IPW). Complements q77's Welch test
    (which answers "is there a difference"; this answers "how big,
    after de-confounding on the strata").

    Determinism/parity: per-(stratum, arm) outcome sums accumulate in
    DECIMAL (order-independent); means and the per-stratum diff are
    IEEE ops on exact inputs; the overall ATE sums the per-stratum
    (n_s/N)·diff_s terms round(9)-then-DECIMAL (the chi-square
    device). Strata missing an arm contribute NULL diff and are
    EXCLUDED from the weighted sum (their weight is excluded from the
    denominator too — the estimand is over comparable strata). NaN
    outcomes excluded.

    Scale shape: ONE map-side-combinable aggregate over (strata, arm
    flags as conditional sums), then O(strata) arithmetic — no second
    data pass, no windows.
    """
    gcols = list(strata_cols)
    y = F.col(outcome_col)
    clean = df.filter(y.isNotNull() & ~F.isnan(y)).select(
        *gcols,
        y.alias("__y"),
        F.when(treatment_expr, F.lit(1)).otherwise(F.lit(0)).alias("__t"),
    )
    dec = F.col("__y").cast("decimal(18,4)")
    per_s = clean.groupBy(*gcols).agg(
        F.sum(F.when(F.col("__t") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_treated"),
        F.sum(F.when(F.col("__t") == 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_control"),
        F.sum(F.when(F.col("__t") == 1, dec)).alias("__st"),
        F.sum(F.when(F.col("__t") == 0, dec)).alias("__sc"),
    )
    mt = F.col("__st").cast("double") / F.nullif(
        F.col("n_treated").cast("double"), F.lit(0.0)
    )
    mc = F.col("__sc").cast("double") / F.nullif(
        F.col("n_control").cast("double"), F.lit(0.0)
    )
    scored = per_s.select(
        *gcols,
        "n_treated",
        "n_control",
        F.round(mt, 6).alias("mean_treated"),
        F.round(mc, 6).alias("mean_control"),
        (mt - mc).alias("__diff"),
        (F.col("n_treated") + F.col("n_control")).cast("long").alias("__ns"),
    )
    # weighted combine over comparable strata only
    comparable = F.col("__diff").isNotNull()
    tot = scored.agg(
        F.sum(F.when(comparable, F.col("__ns"))).cast("long").alias("__N")
    )
    with_n = scored.crossJoin(F.broadcast(tot))
    term = F.round(
        F.col("__ns").cast("double")
        / F.nullif(F.col("__N").cast("double"), F.lit(0.0))
        * F.col("__diff"),
        9,
    ).cast("decimal(28,9)")
    ate = with_n.filter(comparable).agg(
        F.round(F.sum(term).cast("double"), 6).alias("ate")
    )
    return (
        with_n.crossJoin(F.broadcast(ate))
        .select(
            *gcols,
            "n_treated",
            "n_control",
            "mean_treated",
            "mean_control",
            F.round(F.col("__diff"), 6).alias("diff"),
            "ate",
        )
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Quantile normalization across groups: each row's value is
    replaced by the POOLED distribution's element at the same quantile
    position — the batch-effect-correction transform (microarray
    heritage, now source-harmonization in mixed-corpus pipelines):
    after it, every group has pointwise-identical marginal
    distributions up to rank granularity.

    Determinism/parity: within-group rank and pooled rank both order
    by (value, id) — unique, so ties are deterministic; the target
    pooled position is exact integer ceiling arithmetic
    ((r·N + n_g − 1) div n_g, clamped to [1, N]); the mapped value is
    a pooled ELEMENT (never interpolated). NaN/NULL excluded.

    Scale shape: BOTH ranks — the
    pooled global rank AND the within-group rank — come from ONE
    range exchange via operators.prefix.grouped_prefix. The earlier
    form ranked within groups through Window.partitionBy(event_type),
    which is only parallel up to the number of DISTINCT groups: with
    5 event types, 5 tasks sorted 1/5 of the corpus each (measured
    133 MB sort spill at 10M rows, a straggler funnel at 100 TB).
    grouped_prefix partitions every O(rows) window by the uniform
    partition id instead and keeps the group key on the O(P·G)
    totals frame only. Ranks are bit-identical to the window forms,
    so oracle parity is unchanged. The total count N is a 1-row
    aggregate broadcast back, not an unpartitioned count window.
    Finish with an equi-join on the integer position.
    """
    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )
    from big_data_project_datapipeline_spark.operators.prefix import (
        grouped_prefix,
    )

    v = F.col(value_col)
    # Two consumers of the source (N aggregate, the prefix device's
    # totals+emit passes) — persist the cleaned projection so the
    # source scans once (prefix.py cost contract; spills to disk if
    # it outgrows memory).
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        v.alias("v"),
    ).persist()
    n_total = clean.agg(F.count(F.lit(1)).cast("long").alias("__N"))
    # one device, both ranks: __p = pooled global rank by (v, id),
    # __r = within-group rank, __ng = group size. Persisted because
    # the position self-join below consumes it twice.
    em = grouped_prefix(
        clean,
        ["v", "id"],
        "grp",
        rank_col="__p",
        group_rank_col="__r",
        group_count_col="__ng",
    ).persist()
    ranked = em.crossJoin(F.broadcast(n_total))
    pooled = em.select(F.col("__p"), F.col("v").alias("__pooled_v"))
    target = F.least(
        F.col("__N"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(__r * __N + __ng - 1) div __ng"),
        ),
    )
    out = (
        ranked.select("grp", "id", "v", target.alias("__tp"))
        .join(pooled, F.col("__tp") == F.col("__p"))
        .select(
            F.col("grp").alias(group_col),
            F.col("id").alias(id_col),
            F.col("v").alias(value_col),
            F.col("__pooled_v").alias("normalized"),
        )
    )
    return attach_cache_release(out, [clean, em])


def point_in_time_labels(
    df: DataFrame,
    cutoffs: Sequence[str],
    label_expr,
    lookback_days: int = 7,
    horizon_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Leakage-free training-table construction: for each (user,
    cutoff) the FEATURES aggregate strictly from the lookback window
    (cutoff − L, cutoff] and the LABEL strictly from the future
    horizon (cutoff, cutoff + H] — the point-in-time-correctness
    contract that prevents the classic target-leakage bug (features
    peeking past the cutoff). Rows exist only for users with lookback
    support (no all-zero feature rows fabricated for never-seen
    users).

    Determinism/parity: cutoffs are literal timestamps; window
    membership is pure timestamp comparison (half-open intervals,
    boundary ON the cutoff belongs to the lookback — pinned by test);
    feature sums accumulate in DECIMAL; the label is an exact MAX of
    0/1. NaN values count toward event counts but not value sums
    (decimal cast nulls NaN — the welch_ttest rule).

    Scale shape: ONE crossJoin with the broadcast O(cutoffs) grid
    (fan-out = |cutoffs|, a constant), one map-side-combinable groupBy
    on (user, cutoff) with conditional aggregates — never a per-cutoff
    job loop, never a self-join on time.
    """
    ev = df.select(
        F.col(user_col).alias("uid"),
        F.col(ts_col).alias("t"),
        F.col(value_col).alias("v"),
        label_expr.cast("int").alias("__is_label_event"),
    )
    cut_arr = F.array(
        *[F.lit(c).cast("timestamp") for c in cutoffs]
    )
    fanned = ev.select(
        "uid", "t", "v", "__is_label_event", F.explode(cut_arr).alias("cutoff")
    )
    lb_lo = F.col("cutoff") - F.expr(f"interval {int(lookback_days)} days")
    hz_hi = F.col("cutoff") + F.expr(f"interval {int(horizon_days)} days")
    in_lookback = (F.col("t") > lb_lo) & (F.col("t") <= F.col("cutoff"))
    in_horizon = (F.col("t") > F.col("cutoff")) & (F.col("t") <= hz_hi)
    agg = fanned.groupBy("uid", "cutoff").agg(
        F.sum(F.when(in_lookback, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_events_lb"),
        F.sum(F.when(in_lookback, F.col("v").cast("decimal(18,4)")))
        .alias("__val_lb"),
        F.max(
            F.when(in_horizon, F.col("__is_label_event")).otherwise(F.lit(0))
        )
        .cast("int")
        .alias("label"),
    )
    return agg.filter(F.col("n_events_lb") > 0).select(
        F.col("uid").alias(user_col),
        "cutoff",
        "n_events_lb",
        F.round(
            F.coalesce(F.col("__val_lb").cast("double"), F.lit(0.0)), 6
        ).alias("value_lb"),
        "label",
    )


def lorenz_concentration(
    df: DataFrame,
    value_col: str,
    entity_col: str,
    group_col: str,
    n_points: int = 10,
) -> DataFrame:
    """Per-group Lorenz/concentration checkpoints: entities ranked by
    their total value DESCENDING, reporting at each of ``n_points``
    equally-spaced rank quantiles the cumulative share of the group's
    value held by the top entities — the "top 10% of customers drive
    X% of revenue" curve (the curve-point companion to
    :func:`gini_dispersion`'s scalar).

    Point d (1..n_points) reports the boundary entity at rank
    ceil(d·n/n_points). A rank r serves every d with
    n_points·(r−1) < d·n ≤ n_points·r — i.e. d in
    (floor(n_points·(r−1)/n), floor(n_points·r/n)] — pure integer
    arithmetic, so both engines pick identical boundary rows; empty
    ranges explode to nothing (the sequence is guarded: Spark's
    sequence(a, b) runs DESCENDING when a > b instead of empty).

    Determinism/parity: per-entity totals accumulate in DECIMAL(18,4)
    (the events-value device); the descending order (−total, entity)
    is total (decimal negation exact); the cumulative share is ONE
    IEEE division of exact decimals, round(6).

    Scale shape: one map-side-combinable per-entity collapse, then
    rank + running sum from operators/prefix.group_rank_frame (one
    range exchange — the report group key is LOW-cardinality), then a
    map-only explode of O(n_points) boundary markers. Output is
    O(groups × n_points).
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    per_e = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"), F.col(entity_col).alias("ent")
        )
        .agg(F.sum(F.col(value_col).cast("decimal(18,4)")).alias("__w"))
    )
    ranked = group_rank_frame(
        per_e.withColumn("__nw", -F.col("__w")),
        ["grp"],
        ["__nw", "ent"],
        group_rank_col="__r",
        group_count_col="__n",
        sum_cols=["__w"],
    )
    np_ = int(n_points)
    lo = F.expr(f"({np_} * (__r - 1)) div __n")
    hi = F.expr(f"({np_} * __r) div __n")
    pts = ranked.select(
        "grp",
        "__r",
        "__n",
        "__w__gcum",
        "__w__gtot",
        F.explode(
            F.when(hi >= lo + 1, F.sequence(lo + 1, hi)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("point"),
    )
    return pts.select(
        F.col("grp").alias(group_col),
        F.col("point").cast("int").alias("point"),
        F.col("__n").alias("n_entities"),
        F.col("__r").alias("top_entities"),
        # nullif guard: a group whose values sum to exactly 0 divides
        # by zero — Spark's non-ANSI division yields NULL, DuckDB's
        # IEEE double division yields inf/NaN. NULL on both sides
        # (mirrored NULLIF in the q182 oracle) is the cross-engine
        # contract, matching the rest of this module.
        F.round(
            F.col("__w__gcum").cast("double")
            / F.nullif(F.col("__w__gtot").cast("double"), F.lit(0.0)),
            6,
        ).alias("cum_value_share"),
    )


def rrf_fusion(
    df: DataFrame,
    score_cols: Sequence[str],
    item_col: str,
    group_col: str,
    k: int = 5,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    of multiple per-group rankings: each scoring signal ranks the
    group's items with a NON-NULL score DESCENDING (ties broken by
    item id), and the fused score is Σ_s 1/(c + rank_s) over the
    signals that rank the item — the standard score-free way to merge
    heterogeneous retrievers (BM25 + dense, quality + freshness).
    Returns the fused top-``k`` per group with each signal's rank.

    NULL-score contract: an item NULL in one signal simply
    lacks that signal's term (Cormack et al. sum over the runs
    containing the document) — it stays in the fusion via the signals
    that DO score it, its ``rank_<s>`` for the missing signal is NULL,
    and the other signals' rank pools are unaffected. Only items NULL
    in every signal drop out entirely.

    Determinism/parity: ranks are integers from total orders
    (−score, item) — descending by exact IEEE negation; the fused
    score folds the 1/(c+r) terms in score_cols order, so both
    engines evaluate the identical IEEE sequence; final order
    (fused DESC, item) is total. round(6) on the surface.

    Scale shape (both sides): each
    signal's rank feeds a JOIN — not a plain ``<= k`` filter — so it
    gets NO WindowGroupLimit defense and must come from
    operators/prefix.group_rank_frame (one range exchange per signal);
    the FINAL top-k rank, by contrast, IS a plain filter, so it stays
    a window and Catalyst's WindowGroupLimit bounds that exchange to
    k·partitions rows per group.
    """
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )

    # group_rank_frame scans its input twice (totals + emit, the
    # module's two-pass contract), so |signals| rank frames would
    # otherwise recompute the caller's upstream (q184: tokenization)
    # 2x|signals| times — persist the projected base once.
    base = df.select(
        F.col(group_col).alias("grp"), F.col(item_col).alias("item"),
        *[F.col(s) for s in score_cols],
    ).persist()
    fused = None
    for s in score_cols:
        r = group_rank_frame(
            base.select("grp", "item", F.col(s))
            .filter(F.col(s).isNotNull())
            .withColumn("__ns", -F.col(s)),
            ["grp"],
            ["__ns", "item"],
            group_rank_col=f"rank_{s}",
            group_count_col=None,
        ).select("grp", "item", f"rank_{s}")
        # FULL outer: an item unranked by one signal keeps its other
        # signals' terms (NULL-score contract above); name-list joins
        # coalesce the key columns.
        fused = r if fused is None else fused.join(r, ["grp", "item"], "full")
    expr = None
    for s in score_cols:
        term = F.coalesce(
            F.lit(1.0)
            / (F.lit(float(c)) + F.col(f"rank_{s}").cast("double")),
            F.lit(0.0),
        )
        expr = term if expr is None else expr + term
    scored = fused.select(
        "grp", "item", *[f"rank_{s}" for s in score_cols],
        expr.alias("__rrf"),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("__rrf"), F.asc("item"))
    out = (
        scored.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            F.col("item").alias(item_col),
            F.col("fused_rank").cast("int").alias("fused_rank"),
            F.round("__rrf", 6).alias("rrf_score"),
            *[F.col(f"rank_{s}") for s in score_cols],
        )
    )
    return attach_cache_release(out, (base,))


def score_yield_curve(
    df: DataFrame,
    score_col: str,
    thresholds: Sequence[float],
    weight_col: str | None = None,
) -> DataFrame:
    """Per candidate score threshold, the rows (and optional weight —
    tokens, bytes, revenue) a ``score >= t`` filter would keep — the
    tuning curve a curation pipeline reads BEFORE fixing a quality /
    perplexity / classifier cutoff (the generic twin of
    `dedup.dedup_yield_curve`, which sweeps the near-dup threshold).
    NULL scores are dropped at every threshold (a filter predicate is
    never true on NULL — the semantics the eventual filter will have).

    Output: one row per threshold — (threshold, n_rows, rows_kept,
    rows_kept_frac[, n_weight, weight_kept, weight_kept_frac]).

    Scale shape: ONE conditional aggregate (|thresholds| · (1 or 2)
    map-side-combinable sums) collapsing to a single row, then a
    map-only explode to O(|thresholds|) rows — adding thresholds costs
    columns, not passes. Threshold compares are plain IEEE ``>=`` on
    the caller's score expression, so a SQL twin matches bit-wise.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    if weight_col is not None:
        aggs.append(
            F.coalesce(F.sum(weight_col), F.lit(0))
            .cast("long")
            .alias("n_weight")
        )
    for i, t in enumerate(thresholds):
        hit = F.col(score_col) >= F.lit(float(t))
        aggs.append(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(f"__k{i}")
        )
        if weight_col is not None:
            aggs.append(
                F.sum(F.when(hit, F.col(weight_col)).otherwise(F.lit(0)))
                .cast("long")
                .alias(f"__w{i}")
            )
    one = df.agg(*aggs)
    fields = [
        F.struct(
            F.lit(float(t)).alias("threshold"),
            F.col(f"__k{i}").alias("rk"),
            *(
                [F.col(f"__w{i}").alias("wk")]
                if weight_col is not None
                else []
            ),
        )
        for i, t in enumerate(thresholds)
    ]
    row = F.explode(F.array(*fields)).alias("r")
    keep = ["n_rows"] + (["n_weight"] if weight_col is not None else [])
    # empty-input contract (the dedup_yield_curve precedent): SUMs over
    # zero rows are NULL — coalesce kept-counts to 0 so the curve still
    # reports its |thresholds| rows with zero yields
    rk = F.coalesce(F.col("r.rk"), F.lit(0).cast("long"))
    out_cols = [
        F.col("r.threshold").alias("threshold"),
        F.col("n_rows"),
        rk.alias("rows_kept"),
        F.round(
            rk.cast("double")
            / F.nullif(F.col("n_rows").cast("double"), F.lit(0.0)),
            6,
        ).alias("rows_kept_frac"),
    ]
    if weight_col is not None:
        wk = F.coalesce(F.col("r.wk"), F.lit(0).cast("long"))
        out_cols += [
            F.col("n_weight"),
            wk.alias("weight_kept"),
            F.round(
                wk.cast("double")
                / F.nullif(F.col("n_weight").cast("double"), F.lit(0.0)),
                6,
            ).alias("weight_kept_frac"),
        ]
    return one.select(*keep, row).select(*out_cols)


def _doubled_avg_ranks(
    frame: DataFrame,
    gcols: Sequence[str],
    value_col: str,
    count_col: str,
    rank_col: str,
) -> DataFrame:
    """Doubled average (mid) ranks over a COLLAPSED per-(group, value)
    count frame: r2 = 2*cum_below + c + 1 where cum_below counts rows
    with a strictly smaller value — i.e. twice the textbook average
    rank ``cum_below + (c+1)/2`` of a tie group, kept integral so every
    downstream moment is exact until one final IEEE division. The
    cumulative count comes from operators/prefix.group_rank_frame (ONE
    range exchange; never a low-cardinality-group window serializing
    each group through one task — the grouped_auc device)."""
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    cum = group_rank_frame(
        frame,
        list(gcols),
        [value_col],
        group_rank_col=None,
        group_count_col=None,
        sum_cols=[count_col],
    )
    return cum.select(
        *gcols,
        value_col,
        count_col,
        (
            F.lit(2) * (F.col(f"{count_col}__gcum") - F.col(count_col))
            + F.col(count_col)
            + F.lit(1)
        )
        .cast("decimal(20,0)")
        .alias(rank_col),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation of two numeric columns per group —
    Pearson on average (mid) ranks, the tie-correct definition (equal
    to the 1 − 6Σd²/n(n²−1) shortcut only when there are NO ties, so
    the shortcut is never used). The monotone-association complement
    of q39's linear Pearson.

    Determinism/parity: ranks are doubled-unit integers from the
    collapsed per-(group, value) frames (Pearson is affine-invariant,
    so doubling cancels exactly); all five moments fold as
    decimal(38,0); the only float ops are the final two sqrt's and one
    division, rounded at the surface. Rows with NULL/NaN in either
    column drop (pairwise-complete would break the rank universe).

    Scale shape: two map-side-combinable collapses to distinct values,
    two group_rank_frame range exchanges over the collapsed frames,
    two hash equi-joins back to rows (AQE-broadcast when the distinct
    frame is small), one moment aggregate. No O(rows) window
    partitioned by a low-cardinality group key.
    """
    gcols = list(group_cols)
    xc, yc = F.col(x_col), F.col(y_col)
    clean = df.filter(
        xc.isNotNull()
        & ~F.isnan(xc.cast("double"))
        & yc.isNotNull()
        & ~F.isnan(yc.cast("double"))
    ).select(*gcols, xc.alias("__x"), yc.alias("__y"))

    def _ranks(vcol: str, rcol: str) -> DataFrame:
        per_v = clean.groupBy(*gcols, vcol).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        return _doubled_avg_ranks(per_v, gcols, vcol, "__c", rcol).drop(
            "__c"
        )

    ranked = clean.join(_ranks("__x", "__rx"), [*gcols, "__x"]).join(
        _ranks("__y", "__ry"), [*gcols, "__y"]
    )
    rx = F.col("__rx").cast("decimal(19,0)")
    ry = F.col("__ry").cast("decimal(19,0)")
    m = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(rx).cast("double").alias("__sx"),
        F.sum(ry).cast("double").alias("__sy"),
        F.sum(rx * rx).cast("double").alias("__sxx"),
        F.sum(ry * ry).cast("double").alias("__syy"),
        F.sum(rx * ry).cast("double").alias("__sxy"),
    )
    nn = F.col("n").cast("double")
    num = nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.sqrt(nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")) * F.sqrt(
        nn * F.col("__syy") - F.col("__sy") * F.col("__sy")
    )
    return m.select(
        *gcols,
        "n",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("spearman_rho"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    between_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Kruskal–Wallis H test of ``value_col`` across the levels of
    ``between_col``, per outer group — the k-sample rank ANOVA that
    completes the comparison family (Welch q77 = 2-group parametric,
    KS q144 = 2-sample distribution shape, AUC q152 = 2-group
    ranking): H = 12/(N(N+1)) Σ_j R_j²/n_j − 3(N+1) on pooled average
    ranks, with the standard tie correction H/(1 − Σ(t³−t)/(N³−N)).

    Determinism/parity: pooled ranks are doubled-unit integers (so
    R2_j = 2·R_j folds as decimal(38,0)); each per-level term
    R2_j²/n_j is one correctly-rounded double, summed via the
    round-6-then-decimal device (q149 MI precedent) so the fold order
    can't flip a bit; tie cubes fold as decimal(38,0) (c³ overflows
    int64 past ~2M-row tie groups). Groups where every value ties
    emit NULL h_tie_corrected (correction divisor 0).

    Scale shape: two map-side-combinable collapses (per (group, value,
    level) then per (group, value)), one group_rank_frame range
    exchange over the pooled collapsed frame, one equi-join back to
    the per-level cells, two small aggregates.
    """
    gcols = list(group_cols)
    vc, bc = F.col(value_col), F.col(between_col)
    clean = df.filter(
        vc.isNotNull() & ~F.isnan(vc.cast("double")) & bc.isNotNull()
    ).select(*gcols, vc.alias("__v"), bc.alias("__b"))
    cells = clean.groupBy(*gcols, "__v", "__b").agg(
        F.count(F.lit(1)).cast("long").alias("__cb")
    )
    pooled = cells.groupBy(*gcols, "__v").agg(
        F.sum("__cb").cast("long").alias("__c")
    )
    ranks = _doubled_avg_ranks(pooled, gcols, "__v", "__c", "__r2")
    per_level = (
        cells.join(ranks.drop("__c"), [*gcols, "__v"])
        .groupBy(*gcols, "__b")
        .agg(
            F.sum("__cb").cast("long").alias("__nj"),
            F.sum(
                F.col("__cb").cast("decimal(19,0)") * F.col("__r2")
            ).alias("__r2j"),
        )
    )
    # per-level term R2_j²/n_j: one deterministic double each,
    # round-6-then-decimal so the k-way fold is order-free
    stat = per_level.groupBy(*gcols).agg(
        F.sum("__nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_levels"),
        F.sum(
            F.round(
                F.col("__r2j").cast("double")
                * F.col("__r2j").cast("double")
                / F.col("__nj").cast("double"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("__s2"),
    )
    ties = pooled.groupBy(*gcols).agg(
        F.sum(
            F.col("__c").cast("decimal(38,0)")
            * F.col("__c").cast("decimal(38,0)")
            * F.col("__c").cast("decimal(38,0)")
            - F.col("__c").cast("decimal(38,0)")
        ).alias("__t3")
    )
    j = stat.join(ties, gcols) if gcols else stat.crossJoin(
        F.broadcast(ties)
    )
    nn = F.col("n").cast("double")
    # __s2 carries Σ (2R_j)²/n_j = 4 Σ R_j²/n_j → 12/4 = 3
    h = F.lit(3.0) * F.col("__s2") / (nn * (nn + F.lit(1.0))) - F.lit(
        3.0
    ) * (nn + F.lit(1.0))
    n_dec = F.col("n").cast("decimal(38,0)")
    # nullif guards the N=1 group: N³−N = 0 would make the divisor
    # 0/0 = NaN, leaking NaN (not NULL) through the corrected stat
    tie_div = F.lit(1.0) - F.col("__t3").cast("double") / F.nullif(
        (n_dec * n_dec * n_dec - n_dec).cast("double"), F.lit(0.0)
    )
    return j.select(
        *gcols,
        "n",
        "n_levels",
        (F.col("n_levels") - F.lit(1)).cast("int").alias("dof"),
        F.round(h, 6).alias("h"),
        F.round(h / F.nullif(tie_div, F.lit(0.0)), 6).alias(
            "h_tie_corrected"
        ),
    )


def _daily_pair_frames(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    gcols: list,
    max_points: int,
    caller: str,
):
    """Shared prelude of the pairwise-over-daily-series family
    (theil_sen_trend, mann_kendall_trend): collapse to per-group
    daily decimal means, witness the widest group against
    ``max_points`` (one O(1)-output aggregate — the O(points²) pair
    build must never see a mis-grained series), and build the i<j
    day-pair frame. The ungrouped pair build joins on a constant key:
    same bounded output, but planned as a hash join — never a
    CartesianProduct node (plan-audit contract). Returns
    (per_g day counts, pairs)."""
    vc = F.col(value_col)
    daily = (
        df.filter(vc.isNotNull() & ~F.isnan(vc.cast("double")))
        .groupBy(
            *gcols,
            F.datediff(
                F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date")
            ).alias("__d"),
        )
        .agg(
            (
                F.sum(vc.cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__v")
        )
    )
    per_g = daily.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    widest = per_g.agg(F.max("n_days")).collect()[0][0]  # collect-ok O(1)
    if widest is not None and widest > max_points:
        raise ValueError(
            f"{caller}: a group spans {widest} daily points "
            f"(max_points={max_points}); the pairwise build is "
            "O(points²) — coarsen the grain or raise max_points "
            "deliberately"
        )
    jk = gcols if gcols else ["__one"]
    a = daily.select(
        *gcols, F.col("__d").alias("__di"), F.col("__v").alias("__vi")
    )
    b = daily.select(
        *gcols, F.col("__d").alias("__dj"), F.col("__v").alias("__vj")
    )
    if not gcols:
        # pmod(day, 1) is 0 for EVERY day (negatives included) but is
        # data-dependent, so Catalyst cannot constant-fold the key out
        # of the equi-condition — a literal F.lit(1) key folds to
        # TRUE and the join degenerates to a CartesianProduct node
        # (latent while every registered consumer is grouped).
        # Single-key hash join over the
        # max_points-bounded daily frame — same bounded cost, audit-
        # clean plan. NULL-day rows never paired under either scheme
        # (__di < __dj is NULL-false), so semantics are unchanged.
        a = a.withColumn("__one", F.pmod(F.col("__di"), F.lit(1)))
        b = b.withColumn("__one", F.pmod(F.col("__dj"), F.lit(1)))
    pairs = a.join(b, jk).filter(F.col("__di") < F.col("__dj"))
    return daily, per_g, pairs


def theil_sen_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    max_points: int = 5000,
) -> DataFrame:
    """Theil–Sen robust trend per group: the MEDIAN of all pairwise
    slopes of the DAILY-mean series — the outlier-proof complement of
    q97's OLS slope (one wild day moves an OLS fit, not a slope
    median; breakdown point ~29%).

    The O(points²) pair build runs over the COLLAPSED daily frame, so
    its cost is fixed by the calendar span, not the row count — at
    100 TB the pair count is identical to sf0.1's. ``max_points``
    makes that contract explicit: one O(1)-output aggregate witnesses
    the widest group and raises before a mis-grained call (e.g.
    second-level timestamps) detonates a rows² self-join.

    Determinism/parity: daily means are decimal sums over exact
    counts → one IEEE division each; each pair slope is one double
    subtraction/division of engine-identical inputs; the median is
    the exact interpolated order statistic (Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the p·(n−1) definition — sorting
    doubles and averaging the two central values is bit-stable).
    Single-day groups emit n_pairs=0 and NULL slope via the left join
    (a pairless group would otherwise vanish from the output).
    """
    gcols = list(group_cols)
    _, per_g, pairs = _daily_pair_frames(
        df, ts_col, value_col, gcols, max_points, "theil_sen_trend"
    )
    slopes = pairs.select(
        *gcols,
        (
            (F.col("__vj") - F.col("__vi"))
            / (F.col("__dj") - F.col("__di")).cast("double")
        ).alias("__slope"),
    )
    med = slopes.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.percentile("__slope", F.lit(0.5)).alias("__med"),
    )
    joined = per_g.join(med, gcols, "left") if gcols else per_g.crossJoin(
        F.broadcast(med)
    )
    return joined.select(
        *gcols,
        "n_days",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
        F.round(F.col("__med"), 6).alias("slope_per_day"),
    )


def stacked_pair_cells(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Contingency cells for every unordered column pair of ``cols``,
    stacked long: (col_x, col_y, x, y, o) with exact counts. Levels
    are stringified and NULL becomes the sentinel level '__NULL__' —
    NULL is a real category for association purposes, and a bare NULL
    key would silently fall out of the totals equi-joins downstream.
    One map-side-combinable groupBy over a map-only stack; the cells of
    the batch matrix (cramers_v_matrix)."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("stacked_pair_cells needs >= 2 columns")
    parts = []
    for i in range(len(cols)):
        for jj in range(i + 1, len(cols)):
            cx, cy = cols[i], cols[jj]
            parts.append(
                df.select(
                    F.lit(cx).alias("col_x"),
                    F.lit(cy).alias("col_y"),
                    F.coalesce(
                        F.col(cx).cast("string"), F.lit("__NULL__")
                    ).alias("x"),
                    F.coalesce(
                        F.col(cy).cast("string"), F.lit("__NULL__")
                    ).alias("y"),
                )
            )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionByName(p)
    return stacked.groupBy("col_x", "col_y", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )


def cramers_v_from_cells(cells: DataFrame) -> DataFrame:
    """Cramér's V per column pair from a stacked cell frame
    (col_x, col_y, x, y, o): χ² via the zero-cell-free identity
    χ² = n·Σ_observed o²/(R_i·C_j) − n (unobserved cells contribute 0
    to Σ o²/E, so only landed cells are ever scanned), then
    V = sqrt(χ² / (n·min(r−1, c−1))) — the [0,1]-normalized effect
    size q149's MI and the raw χ² (q88) don't give.

    Determinism/parity: o, row/col totals and n are exact longs; each
    cell term o²·n/(R·C) is a chain of correctly-rounded IEEE ops on
    integer-valued doubles (bit-identical in any engine), folded with
    the round-9-then-decimal device so the sum order can't flip a
    bit. 1-level columns emit NULL v (min(r−1,c−1) = 0).

    Scale shape: three map-side-combinable aggregates over the cell
    frame (row totals, col totals, per-pair grand), two equi-joins
    back to cells, one O(pairs) broadcast of the grand frame.
    """
    rows_t = cells.groupBy("col_x", "col_y", "x").agg(
        F.sum("o").cast("long").alias("__rt")
    )
    cols_t = cells.groupBy("col_x", "col_y", "y").agg(
        F.sum("o").cast("long").alias("__ct")
    )
    grand = cells.groupBy("col_x", "col_y").agg(
        F.sum("o").cast("long").alias("n")
    )
    r_lv = rows_t.groupBy("col_x", "col_y").agg(
        F.count(F.lit(1)).cast("int").alias("r_levels")
    )
    c_lv = cols_t.groupBy("col_x", "col_y").agg(
        F.count(F.lit(1)).cast("int").alias("c_levels")
    )
    pk = ["col_x", "col_y"]
    term = (
        F.col("o").cast("double")
        * F.col("o").cast("double")
        * F.col("n").cast("double")
        / (F.col("__rt").cast("double") * F.col("__ct").cast("double"))
    )
    chi = (
        cells.join(rows_t, [*pk, "x"])
        .join(cols_t, [*pk, "y"])
        .join(F.broadcast(grand), pk)
        .groupBy(*pk, "n")
        .agg(
            F.sum(F.round(term, 9).cast("decimal(38,9)"))
            .cast("double")
            .alias("__s")
        )
    )
    out = (
        chi.join(F.broadcast(r_lv), pk)
        .join(F.broadcast(c_lv), pk)
        .withColumn("__chi2", F.col("__s") - F.col("n").cast("double"))
        .withColumn(
            "__mindim",
            F.least(
                F.col("r_levels") - F.lit(1), F.col("c_levels") - F.lit(1)
            ).cast("double"),
        )
    )
    return out.select(
        *pk,
        "n",
        "r_levels",
        "c_levels",
        (
            (F.col("r_levels") - F.lit(1)) * (F.col("c_levels") - F.lit(1))
        ).cast("int").alias("dof"),
        F.round(F.col("__chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                # χ² is ≥ 0 mathematically; the round-9-then-decimal
                # fold can land an independent table a hair below 0 —
                # clamp before
                # sqrt so V is 0.0, never NaN
                F.greatest(F.col("__chi2"), F.lit(0.0))
                / F.nullif(
                    F.col("n").cast("double") * F.col("__mindim"),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def cramers_v_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Cramér's V association matrix over the categorical
    columns ``cols`` — the feed-discovery companion to q204's
    per-column profile: which columns move together (V≈1 flags a
    redundant or derived column; V≈0 an independent one). One stacked
    cell build + the shared χ² tail; see cramers_v_from_cells for the
    parity and scale contract."""
    return cramers_v_from_cells(stacked_pair_cells(df, cols))


def mann_kendall_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    max_points: int = 5000,
) -> DataFrame:
    """Mann–Kendall monotone-trend test per group over the daily-mean
    series — the significance companion of q210's Theil–Sen slope
    (same pair universe: S = Σ_{i<j} sign(v_j − v_i), the count of
    concordant minus discordant day pairs): S, Kendall's tau-a, the
    tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    / 18, and the continuity-corrected normal z. Distribution-free —
    the "is there ANY monotone drift" readout before trusting a slope.

    Determinism/parity: the sign of a double difference is exact; S
    and both variance terms are pure integers (bounded far below
    int64 by the shared ``max_points`` witness), so the only float
    ops are the closing divisions/sqrt, rounded at the surface.
    Pairless (single-day) groups emit S=0 with NULL tau/z.

    Scale shape: shares _daily_pair_frames with theil_sen_trend —
    O(days²) pair cost fixed by the calendar span, never the row
    count; ties fold from the O(distinct daily means) frame.
    """
    gcols = list(group_cols)
    daily, per_g, pairs = _daily_pair_frames(
        df, ts_col, value_col, gcols, max_points, "mann_kendall_trend"
    )
    s = pairs.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.signum(F.col("__vj") - F.col("__vi")).cast("int")
        )
        .cast("long")
        .alias("s_stat"),
    )
    per_v = daily.groupBy(*gcols, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    ties = per_v.groupBy(*gcols).agg(
        F.sum(
            F.col("__c")
            * (F.col("__c") - F.lit(1))
            * (F.lit(2) * F.col("__c") + F.lit(5))
        )
        .cast("long")
        .alias("__t")
    )
    j = per_g.join(s, gcols, "left") if gcols else per_g.crossJoin(
        F.broadcast(s)
    )
    j = j.join(ties, gcols) if gcols else j.crossJoin(F.broadcast(ties))
    n = F.col("n_days")
    var_num = (n * (n - F.lit(1)) * (F.lit(2) * n + F.lit(5))) - F.col(
        "__t"
    )
    var_s = var_num.cast("double") / F.lit(18.0)
    sc = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (sc - F.lit(1.0)) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (sc + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    has_pairs = F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")) > 0
    nonzero_var = var_s > F.lit(0.0)
    return j.select(
        *gcols,
        "n_days",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias(
            "n_pairs"
        ),
        F.coalesce(F.col("s_stat"), F.lit(0).cast("long")).alias("s_stat"),
        F.round(var_s, 6).alias("var_s"),
        F.round(
            F.when(
                has_pairs,
                sc
                / (n * (n - F.lit(1)) / F.lit(2)).cast("double"),
            ),
            6,
        ).alias("tau"),
        F.round(F.when(has_pairs & nonzero_var, z), 6).alias("z"),
    )


def logistic_irls(
    df: DataFrame,
    label_expr,
    x1_col: str,
    x2_col: str,
    group_cols: Sequence[str] = (),
    n_iters: int = 3,
) -> DataFrame:
    """Distributed logistic regression per group — two features plus
    intercept, fit by EXACTLY ``n_iters`` Newton/IRLS steps from β=0:
    the GLM step past q153's closed-form OLS (a binary label has no
    closed form; the iteration IS the estimator, and a fixed count
    with quantized state makes the classic float-iterative fit
    bit-reproducible against a round-unrolled SQL twin). Entirely
    relational: each step is one broadcast join of the O(groups) β
    frame + one map-side-combinable 9-moment aggregate + a scalar
    3×3 adjugate solve in column expressions — no driver solve, no
    UDF, ``n_iters``+1 passes over the rows total (the closing pass
    scores train log-loss at the final β).

    Parity devices: p = clamp(floor(sigmoid(η)·1e9 + 0.5)/1e9)
    quantizes the one transcendental per row, so every downstream
    product is a correctly-rounded IEEE op on engine-identical
    inputs; moment terms fold order-free via the SCALED-LONG
    quantizer sign(t)·floor(|t|·1e9 + 0.5) summed as decimal(38,0)
    then /1e9 — the same 9-digit fold contract as the
    round-9-then-decimal device but floor-based, because Spark's
    ``round(double, 9)`` routes every row through BigDecimal
    (measured 9.9 s vs 1.2 s for the 9-moment pass at sf0.1; floor
    on a double stays in codegen). β re-enters each step rounded to
    9 (O(groups) rows — BigDecimal is free there). A numerically
    singular step (|det| <= 1e-12: a separated or degenerate group)
    freezes β for that step instead of emitting inf/NaN. Labels must
    be 0/1 after ``label_expr``; NULL/NaN feature rows drop.

    Scale shape: state is O(groups); the aggregate is one shuffle per
    step with map-side combine; feature scans re-read the (pruned)
    columns rather than pinning 100 TB in cache.
    """
    gcols = list(group_cols)
    x1, x2 = F.col(x1_col), F.col(x2_col)
    rows = df.filter(
        x1.isNotNull()
        & ~F.isnan(x1.cast("double"))
        & x2.isNotNull()
        & ~F.isnan(x2.cast("double"))
    ).select(
        *gcols,
        x1.cast("double").alias("__x1"),
        x2.cast("double").alias("__x2"),
        F.when(label_expr, F.lit(1.0)).otherwise(F.lit(0.0)).alias("__y"),
    )
    beta = (
        rows.groupBy(*gcols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            *gcols,
            "n",
            F.lit(0.0).alias("b0"),
            F.lit(0.0).alias("b1"),
            F.lit(0.0).alias("b2"),
        )
    )

    def _p():
        eta = (
            F.col("b0")
            + F.col("b1") * F.col("__x1")
            + F.col("b2") * F.col("__x2")
        )
        raw = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        # sigmoid is strictly positive: the half-up quantizer needs no
        # sign handling (floor returns LONG; /1e9 promotes to double)
        quant = F.floor(raw * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        return F.least(F.greatest(quant, F.lit(1e-9)), F.lit(1.0 - 1e-9))

    def _dsum(expr):
        scaled = (
            F.signum(expr) * F.floor(F.abs(expr) * F.lit(1e9) + F.lit(0.5))
        ).cast("long")
        return F.sum(scaled.cast("decimal(38,0)")).cast("double") / F.lit(
            1e9
        )

    snaps: list[DataFrame] = []
    for _ in range(n_iters):
        j = rows.join(F.broadcast(beta), gcols) if gcols else rows.crossJoin(
            F.broadcast(beta)
        )
        p = _p()
        w = p * (F.lit(1.0) - p)
        r = F.col("__y") - p
        mom = j.groupBy(*gcols).agg(
            F.max("n").alias("n"),
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
            F.max("b2").alias("b2"),
            _dsum(r).alias("g0"),
            _dsum(F.col("__x1") * r).alias("g1"),
            _dsum(F.col("__x2") * r).alias("g2"),
            _dsum(w).alias("h00"),
            _dsum(w * F.col("__x1")).alias("h01"),
            _dsum(w * F.col("__x2")).alias("h02"),
            _dsum(w * F.col("__x1") * F.col("__x1")).alias("h11"),
            _dsum(w * F.col("__x1") * F.col("__x2")).alias("h12"),
            _dsum(w * F.col("__x2") * F.col("__x2")).alias("h22"),
        )
        det = (
            F.col("h00")
            * (F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12"))
            - F.col("h01")
            * (F.col("h01") * F.col("h22") - F.col("h02") * F.col("h12"))
            + F.col("h02")
            * (F.col("h01") * F.col("h12") - F.col("h02") * F.col("h11"))
        )
        # adjugate rows of the symmetric H (cofactor expressions)
        a00 = F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12")
        a01 = F.col("h02") * F.col("h12") - F.col("h01") * F.col("h22")
        a02 = F.col("h01") * F.col("h12") - F.col("h02") * F.col("h11")
        a11 = F.col("h00") * F.col("h22") - F.col("h02") * F.col("h02")
        a12 = F.col("h01") * F.col("h02") - F.col("h00") * F.col("h12")
        a22 = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        d0 = (
            a00 * F.col("g0") + a01 * F.col("g1") + a02 * F.col("g2")
        ) / det
        d1 = (
            a01 * F.col("g0") + a11 * F.col("g1") + a12 * F.col("g2")
        ) / det
        d2 = (
            a02 * F.col("g0") + a12 * F.col("g1") + a22 * F.col("g2")
        ) / det
        ok = F.abs(det) > F.lit(1e-12)
        # per-step lazy localCheckpoint on the O(groups) state frame
        # (the pagerank per-sweep device): without it each broadcast
        # nests the whole prior chain as one deep tree and the
        # planner/codegen re-pays it per step — measured 23.0 s → 9.6 s
        # at sf0.1 for 3 steps. The snapshots ride on the result and
        # free with it (attach_cache_release below).
        beta = mom.select(
            *gcols,
            "n",
            F.round(
                F.col("b0") + F.when(ok, d0).otherwise(F.lit(0.0)), 9
            ).alias("b0"),
            F.round(
                F.col("b1") + F.when(ok, d1).otherwise(F.lit(0.0)), 9
            ).alias("b1"),
            F.round(
                F.col("b2") + F.when(ok, d2).otherwise(F.lit(0.0)), 9
            ).alias("b2"),
        ).localCheckpoint(eager=False)
        snaps.append(beta)
    jf = rows.join(F.broadcast(beta), gcols) if gcols else rows.crossJoin(
        F.broadcast(beta)
    )
    pf = _p()
    ll_term = -(
        F.col("__y") * F.log(pf)
        + (F.lit(1.0) - F.col("__y")) * F.log(F.lit(1.0) - pf)
    )
    out = jf.groupBy(*gcols).agg(
        F.max("n").alias("n"),
        F.max("b0").alias("__b0"),
        F.max("b1").alias("__b1"),
        F.max("b2").alias("__b2"),
        _dsum(ll_term).alias("__ll"),
        # __y is exactly 0.0/1.0: the long cast is exact in any engine
        F.sum(F.col("__y").cast("long")).cast("long").alias("n_pos"),
    )
    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )

    res = out.select(
        *gcols,
        "n",
        "n_pos",
        F.round(F.col("__b0"), 6).alias("beta0"),
        F.round(F.col("__b1"), 6).alias("beta1"),
        F.round(F.col("__b2"), 6).alias("beta2"),
        F.round(F.col("__ll") / F.col("n").cast("double"), 6).alias(
            "avg_logloss"
        ),
    )
    return attach_cache_release(res, (), snapshots=snaps)


def _hist_median(
    j: DataFrame,
    gcols: list,
    expr,
    n_bins: int,
    out_name: str,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Per-group MERGEABLE median estimate for the IRLS frozen-scale
    step (the 100 TB twin of the exact interpolated percentile): one
    bounds aggregate + one equi-width bin count (both map-side
    combinable, O(groups × n_bins) state — the histogram_quantile_
    estimate device, sketches.py/q185) + a window over the COLLAPSED
    bin frame (bounded at n_bins rows per group, never the row
    stream). Estimate = MIDPOINT of the first bin whose cumulative
    count reaches the nearest-rank target ceil(n/2); the true
    nearest-rank element lies inside that bin, so
    |estimate − element| <= bin width / 2. Midpoint, not the q185
    lower edge, DELIBERATELY: a scale estimate must never collapse to
    exactly 0 on an outlier-stretched grid (median deviation below
    one bin width is the COMMON case when outliers stretch the range
    — lower-edge would return 0.0 there and trip the degenerate-scale
    guard, silently reverting the robust fit to the ruined OLS; the
    guard must mean "all values identical", which midpoint preserves:
    estimate is 0 only when the grid itself is zero-width).
    Zero-width groups collapse to bin 0 with estimate == the single
    value (exact).

    ``bounds`` (optional): a pre-computed per-group
    (__rmin, __rmax, __n) frame freezing the grid — saves the bounds
    scan when the caller can derive a covering range from state it
    already holds (the huber MAD grid: |r − med| <= max(rmax − med,
    med − rmin) exactly, from the residual bounds + median). The grid
    must COVER the values; psi_bin clamps strays, but a too-wide grid
    only widens the error bound, never breaks it."""
    vals = j.select(*gcols, expr.cast("double").alias("__v"))
    if bounds is None:
        bounds = vals.groupBy(*gcols).agg(
            F.min("__v").alias("__rmin"),
            F.max("__v").alias("__rmax"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
    joined = (
        vals.join(F.broadcast(bounds), gcols)
        if gcols
        else vals.crossJoin(F.broadcast(bounds))
    )
    binned = joined.groupBy(
        *gcols,
        psi_bin(
            F.col("__v"), F.col("__rmin"), F.col("__rmax"), n_bins
        ).alias("__bin"),
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    wcum = (
        Window.partitionBy(*gcols)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        *gcols, "__bin", F.sum("__c").over(wcum).alias("__cum")
    )
    cum = (
        cum.join(F.broadcast(bounds), gcols)
        if gcols
        else cum.crossJoin(F.broadcast(bounds))
    )
    width = (F.col("__rmax") - F.col("__rmin")) / F.lit(float(n_bins))
    mid = (
        F.col("__rmin")
        + (F.col("__bin").cast("double") + F.lit(0.5)) * width
    )
    target = F.expr("(__n + 1) div 2")
    return cum.groupBy(*gcols).agg(
        F.min(F.when(F.col("__cum") >= target, mid)).alias(out_name)
    )


def huber_irls(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    group_cols: Sequence[str] = (),
    n_reweights: int = 2,
    c: float = 1.345,
    scale_estimator: str = "exact",
    scale_bins: int = 64,
    lineage_cap: bool = True,
) -> DataFrame:
    """Huber robust regression per group — y = b0 + b1·x1 + b2·x2 fit
    by OLS-initialized IRLS with EXACTLY ``n_reweights`` reweighted
    passes: the M-estimation step past q153's OLS (one wild row moves
    an OLS plane; Huber caps its influence at c·scale) and the
    multi-feature counterpart of q210's Theil–Sen line. Scale is the
    PRELIMINARY estimate frozen from the OLS residuals
    (s = 1.4826·MAD(r), MAD about the residual median — the standard
    two-stage M-estimator; freezing it makes the fixed-count
    iteration a closed-form-composable, bit-reproducible function).
    Weights w = min(1, c·s/|r|); a degenerate scale (s <= 0: half the
    rows on one plane) freezes the OLS fit instead of dividing by 0.

    Determinism/parity devices: moments fold scaled-long (the q215
    device); β re-enters each pass rounded to 9; the two medians are
    exact interpolated order statistics (Spark percentile ≡ DuckDB
    quantile_cont, the q210 pairing); weights are one IEEE chain on
    engine-identical inputs; the 3×3 normal equations solve by the
    q215 adjugate expressions.

    Scale shape: n_reweights + 3 passes over the (pruned) rows — two
    percentile aggregates for the frozen scale, one moment aggregate
    per pass, O(groups) broadcast state between passes. Never a
    matrix library, never a UDF. With the default
    ``scale_estimator="exact"`` the medians are the one deliberately
    non-mergeable piece (Spark's percentile buffers a group's values
    in the aggregate): they buy bit-reproducibility at the gate SFs.
    ``scale_estimator="sketch"`` is the 100 TB path: both medians come
    from the mergeable equi-width histogram device (``_hist_median``,
    the sketches.histogram_quantile_estimate/q185 estimator,
    ``scale_bins`` bins) — O(groups × bins) aggregate state, no
    per-group value buffer, |median error| <= one bin width, which the
    c·s weight threshold tolerates (weights are continuous in s;
    unit-test-pinned within-bound vs the exact path). Default stays
    exact for driver-gate parity.
    """
    gcols = list(group_cols)
    yv, x1v, x2v = F.col(y_col), F.col(x1_col), F.col(x2_col)
    rows = df.filter(
        yv.isNotNull()
        & ~F.isnan(yv.cast("double"))
        & x1v.isNotNull()
        & ~F.isnan(x1v.cast("double"))
        & x2v.isNotNull()
        & ~F.isnan(x2v.cast("double"))
    ).select(
        *gcols,
        yv.cast("double").alias("__y"),
        x1v.cast("double").alias("__x1"),
        x2v.cast("double").alias("__x2"),
    )

    def _q9(expr):
        return (
            F.signum(expr) * F.floor(F.abs(expr) * F.lit(1e9) + F.lit(0.5))
        ).cast("long")

    def _dsum(expr):
        return F.sum(_q9(expr).cast("decimal(38,0)")).cast(
            "double"
        ) / F.lit(1e9)

    def _moments(j, w):
        one = F.lit(1.0)
        x1, x2, y = F.col("__x1"), F.col("__x2"), F.col("__y")
        return j.groupBy(*gcols).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _dsum(w * one).alias("h00"),
            _dsum(w * x1).alias("h01"),
            _dsum(w * x2).alias("h02"),
            _dsum(w * x1 * x1).alias("h11"),
            _dsum(w * x1 * x2).alias("h12"),
            _dsum(w * x2 * x2).alias("h22"),
            _dsum(w * y).alias("g0"),
            _dsum(w * x1 * y).alias("g1"),
            _dsum(w * x2 * y).alias("g2"),
        )

    def _solve(mom, keep):
        det = (
            F.col("h00")
            * (F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12"))
            - F.col("h01")
            * (F.col("h01") * F.col("h22") - F.col("h02") * F.col("h12"))
            + F.col("h02")
            * (F.col("h01") * F.col("h12") - F.col("h02") * F.col("h11"))
        )
        a00 = F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12")
        a01 = F.col("h02") * F.col("h12") - F.col("h01") * F.col("h22")
        a02 = F.col("h01") * F.col("h12") - F.col("h02") * F.col("h11")
        a11 = F.col("h00") * F.col("h22") - F.col("h02") * F.col("h02")
        a12 = F.col("h01") * F.col("h02") - F.col("h00") * F.col("h12")
        a22 = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        ok = F.abs(det) > F.lit(1e-12)
        b0 = (
            a00 * F.col("g0") + a01 * F.col("g1") + a02 * F.col("g2")
        ) / det
        b1 = (
            a01 * F.col("g0") + a11 * F.col("g1") + a12 * F.col("g2")
        ) / det
        b2 = (
            a02 * F.col("g0") + a12 * F.col("g1") + a22 * F.col("g2")
        ) / det
        sel = list(gcols) + ["n"] + list(keep)
        return mom.select(
            *sel,
            F.round(F.when(ok, b0).otherwise(F.lit(0.0)), 9).alias("b0"),
            F.round(F.when(ok, b1).otherwise(F.lit(0.0)), 9).alias("b1"),
            F.round(F.when(ok, b2).otherwise(F.lit(0.0)), 9).alias("b2"),
        )

    def _join(beta):
        return (
            rows.join(F.broadcast(beta), gcols)
            if gcols
            else rows.crossJoin(F.broadcast(beta))
        )

    def _resid():
        return F.col("__y") - (
            F.col("b0")
            + F.col("b1") * F.col("__x1")
            + F.col("b2") * F.col("__x2")
        )

    snaps: list[DataFrame] = []

    def _cap(f: DataFrame) -> DataFrame:
        # per-pass lazy localCheckpoint on the O(groups) state (the
        # q215 logistic_irls lineage-cap device): without it each pass
        # nests the whole prior chain as one deep tree re-paid by the
        # planner per pass (A/B with 256 KB openCost, 6 runs each:
        # best 9.0 s vs 11.0 s warm-solo at sf0.1). ``lineage_cap=
        # False`` keeps the pure-lineage plan for plan inspection.
        # Snapshots ride on the result via attach_cache_release below:
        # blocks free with the result instead of
        # lingering until ContextCleaner GC.
        if not lineage_cap:
            return f
        f = f.localCheckpoint(eager=False)
        snaps.append(f)
        return f

    # pass 1: plain OLS (w = 1)
    beta = _cap(_solve(_moments(rows, F.lit(1.0)), keep=[]))
    # passes 2-3: frozen preliminary scale from the OLS residuals
    if scale_estimator == "sketch":
        # mergeable frozen-scale path (the promised 100 TB swap): both
        # medians come from the O(groups × scale_bins) histogram
        # device — no per-group value buffer anywhere; |error| <= one
        # bin width per median, which the c·s weight threshold
        # tolerates (weights are continuous in s). THREE row scans
        # total (residual bounds, residual bins, deviation bins): the
        # MAD grid needs no bounds scan because max|r − med| ==
        # max(rmax − med, med − rmin) exactly (med lies in
        # [rmin, rmax] by construction — a bin lower edge of that
        # grid), so its grid derives from state already in hand.
        rb = _join(beta).groupBy(*gcols).agg(
            F.min(_resid()).alias("__rmin"),
            F.max(_resid()).alias("__rmax"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
        med = _hist_median(
            _join(beta), gcols, _resid(), scale_bins, "__med", bounds=rb
        )
        beta_m = beta.join(med, gcols) if gcols else beta.crossJoin(
            F.broadcast(med)
        )
        mad_bounds = (
            rb.join(med, gcols) if gcols else rb.crossJoin(F.broadcast(med))
        ).select(
            *gcols,
            F.lit(0.0).alias("__rmin"),
            F.greatest(
                F.col("__rmax") - F.col("__med"),
                F.col("__med") - F.col("__rmin"),
            ).alias("__rmax"),
            F.col("__n"),
        )
        mad = _hist_median(
            _join(beta_m),
            gcols,
            F.abs(_resid() - F.col("__med")),
            scale_bins,
            "__mad",
            bounds=mad_bounds,
        )
    elif scale_estimator == "exact":
        med = _join(beta).groupBy(*gcols).agg(
            F.percentile(_resid(), F.lit(0.5)).alias("__med")
        )
        beta_m = beta.join(med, gcols) if gcols else beta.crossJoin(
            F.broadcast(med)
        )
        mad = _join(beta_m).groupBy(*gcols).agg(
            F.max("__med").alias("__med"),
            F.percentile(
                F.abs(_resid() - F.col("__med")), F.lit(0.5)
            ).alias("__mad"),
        )
    else:
        raise ValueError(
            f"scale_estimator must be 'exact' or 'sketch', got "
            f"{scale_estimator!r}"
        )
    scale = mad.select(
        *gcols, (F.lit(1.4826) * F.col("__mad")).alias("__s")
    )
    beta = _cap(
        beta.join(scale, gcols)
        if gcols
        else beta.crossJoin(F.broadcast(scale))
    )
    for _ in range(n_reweights):
        j = _join(beta)
        r = _resid()
        w = F.when(
            F.col("__s") > F.lit(0.0),
            F.least(
                F.lit(1.0),
                F.lit(c) * F.col("__s") / F.nullif(F.abs(r), F.lit(0.0)),
            ),
        ).otherwise(F.lit(1.0))
        # a zero residual gets full weight (nullif makes the division
        # NULL; least(1.0, NULL) would be NULL, so coalesce to 1)
        w = F.coalesce(w, F.lit(1.0))
        mom = _moments(j, w)
        scale_keep = beta.select(*gcols, "__s")
        nb = _solve(mom, keep=[])
        beta = _cap(
            nb.join(scale_keep, gcols)
            if gcols
            else nb.crossJoin(F.broadcast(scale_keep))
        )
    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )

    out = beta.select(
        *gcols,
        "n",
        F.round(F.col("__s"), 6).alias("scale"),
        F.round(F.col("b0"), 6).alias("b0"),
        F.round(F.col("b1"), 6).alias("b1"),
        F.round(F.col("b2"), 6).alias("b2"),
    )
    return attach_cache_release(out, (), snapshots=snaps)


def kendall_tau_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    max_points: int = 5000,
) -> DataFrame:
    """Kendall tau-b between a group's DAILY MEAN value and its DAILY
    VOLUME (row count): does the level move with the traffic? The
    tie-correct ordinal association completing the rank-statistics
    family — Spearman (q208) correlates ranks, Mann–Kendall (q212)
    tests one series against time; tau-b correlates two series with
    the proper tie denominator (daily counts tie CONSTANTLY, so tau-a
    would be biased toward 0 by construction).

    tau_b = (C − D) / (sqrt(n0 − Tx) · sqrt(n0 − Ty)), n0 = pairs,
    Tx/Ty = pairs tied on that variable (computed from the SAME pair
    aggregate — a pair tied on x is sx = 0, so Tx = ties_x + ties_xy;
    no second value-level groupBy needed). NULL when either factor is
    0 (a constant series has no ordinal signal — explicit degenerate
    story, doubles as the division guard).

    Scale shape: the O(days²) pair build runs over the COLLAPSED
    daily frame (the q210/q212 calendar-bounded class — pair cost
    identical at 100 TB); ``max_points`` witnesses the widest group
    first and raises on a mis-grained series. Ungrouped calls join on
    a constant key (hash join, never a CartesianProduct node).

    Parity: daily means are decimal-sum/count (engine-identical
    doubles), volumes are exact longs; every pair contributes integer
    sign products; C/D/tie counts fold as longs; the closing
    sqrt·sqrt/division is one IEEE chain mirrored by the oracle;
    round(6).
    """
    gcols = list(group_cols)
    vc = F.col(value_col)
    daily = (
        df.filter(vc.isNotNull() & ~F.isnan(vc.cast("double")))
        .groupBy(
            *gcols,
            F.datediff(
                F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date")
            ).alias("__d"),
        )
        .agg(
            (
                F.sum(vc.cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__v"),
            F.count(F.lit(1)).cast("long").alias("__m"),
        )
    )
    per_g = daily.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    widest = per_g.agg(F.max("n_days")).collect()[0][0]  # collect-ok O(1)
    if widest is not None and widest > max_points:
        raise ValueError(
            f"kendall_tau_daily: a group spans {widest} daily points "
            f"(max_points={max_points}); the pairwise build is "
            "O(points²) — coarsen the grain or raise max_points "
            "deliberately"
        )
    jk = gcols if gcols else ["__one"]
    a = daily.select(
        *gcols,
        F.col("__d").alias("__di"),
        F.col("__v").alias("__vi"),
        F.col("__m").alias("__mi"),
    )
    b = daily.select(
        *gcols,
        F.col("__d").alias("__dj"),
        F.col("__v").alias("__vj"),
        F.col("__m").alias("__mj"),
    )
    if not gcols:
        # pmod(day, 1): constant 0 yet non-foldable — see
        # _daily_pair_frames (a literal key folds out of the
        # equi-condition and the join plans as CartesianProduct)
        a = a.withColumn("__one", F.pmod(F.col("__di"), F.lit(1)))
        b = b.withColumn("__one", F.pmod(F.col("__dj"), F.lit(1)))
    sx = F.signum(F.col("__vj") - F.col("__vi")).cast("int")
    sy = F.signum((F.col("__mj") - F.col("__mi")).cast("double")).cast(
        "int"
    )
    pairs = a.join(b, jk).filter(F.col("__di") < F.col("__dj"))
    agg = pairs.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(((sx * sy) == 1).cast("long")).alias("concordant"),
        F.sum(((sx * sy) == -1).cast("long")).alias("discordant"),
        F.sum(((sx == 0) & (sy != 0)).cast("long")).alias("ties_x"),
        F.sum(((sy == 0) & (sx != 0)).cast("long")).alias("ties_y"),
        F.sum(((sx == 0) & (sy == 0)).cast("long")).alias("ties_xy"),
    )
    joined = (
        per_g.join(agg, gcols, "left")
        if gcols
        else per_g.crossJoin(F.broadcast(agg))
    )
    xf = (
        F.col("n_pairs") - F.col("ties_x") - F.col("ties_xy")
    ).cast("double")
    yf = (
        F.col("n_pairs") - F.col("ties_y") - F.col("ties_xy")
    ).cast("double")
    tau = (
        (F.col("concordant") - F.col("discordant")).cast("double")
        / (
            F.sqrt(F.nullif(xf, F.lit(0.0)))
            * F.sqrt(F.nullif(yf, F.lit(0.0)))
        )
    )
    zl = F.lit(0).cast("long")
    return joined.select(
        *gcols,
        "n_days",
        F.coalesce(F.col("n_pairs"), zl).alias("n_pairs"),
        F.coalesce(F.col("concordant"), zl).alias("concordant"),
        F.coalesce(F.col("discordant"), zl).alias("discordant"),
        F.coalesce(F.col("ties_x"), zl).alias("ties_x"),
        F.coalesce(F.col("ties_y"), zl).alias("ties_y"),
        F.coalesce(F.col("ties_xy"), zl).alias("ties_xy"),
        F.round(tau, 6).alias("tau_b"),
    )


def fdr_bh(
    df: DataFrame,
    p_col: str,
    q: float = 0.05,
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control over a HYPOTHESIS frame
    (Benjamini & Yekutieli's classic step-up): given one row per
    hypothesis with a p-value, find k* = max{ i : p(i) <= i·q/m } over
    the ascending p-ranks and reject exactly ranks 1..k* — the
    multiple-testing closure for every battery this module emits
    (drift per feature, rate tests per segment, trend tests per
    series). Controlling per-test α at q across m hypotheses is wrong
    at any scale; at a 100 TB feature store m is thousands and
    uncontrolled false discovery is the default failure mode.

    Input contract: ``df`` is the COLLAPSED battery (one row per
    hypothesis, O(m) rows), not the underlying data — the global rank
    window here is bounded by construction (the q67/q160 allowlist
    class). NULL/NaN p-values drop (an untestable hypothesis is not a
    hypothesis; they'd otherwise poison the rank axis).

    Determinism/parity: rank is a row_number over the (p, *id_cols)
    TOTAL order (ties in p are broken by ids, so the rank — and
    therefore the rejected set — is engine-reproducible); the step-up
    comparison p·m <= rank·q and the closing k* fold are the same
    IEEE expressions both engines evaluate on identical doubles.
    Rejection is monotone in rank by construction (every rank <= k*
    rejects, even where its own p briefly exceeds its critical value —
    that is the STEP-UP, not a bug).
    """
    ids = list(id_cols)
    pv = F.col(p_col)
    hyp = df.filter(pv.isNotNull() & ~F.isnan(pv.cast("double"))).select(
        *ids, pv.cast("double").alias("__p")
    )
    m_frame = hyp.agg(F.count(F.lit(1)).cast("long").alias("__m"))
    w = Window.orderBy("__p", *ids)
    ranked = hyp.crossJoin(F.broadcast(m_frame)).withColumn(
        "__r", F.row_number().over(w).cast("long")
    )
    passed = (
        F.col("__p") * F.col("__m").cast("double")
        <= F.col("__r").cast("double") * F.lit(float(q))
    )
    kstar = ranked.agg(
        F.max(F.when(passed, F.col("__r"))).alias("__k")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            *ids,
            F.col("__p").alias("p_value"),
            F.col("__r").alias("p_rank"),
            F.col("__m").alias("m_tests"),
            F.coalesce(F.col("__r") <= F.col("__k"), F.lit(False)).alias(
                "rejected"
            ),
        )
    )
