"""Event-behavior analytics: ordered funnels, cohort retention, SCD2.

These are the classic product-analytics operators over an append-only event
log (``events(event_id, ts, user_id, event_type, value)``) that the
reference's pandas jobs never needed but any analytics engine at this
surface is expected to ship. All three are expressed relationally so
Catalyst keeps them in whole-stage codegen:

- **Funnel** (``ordered_funnel``): the textbook "min ts of step k AFTER the
  user's step k-1 timestamp" chain. Each stage is one groupBy(user) +\
  one equi-join on user — every shuffle is on the same uniform user key,
  so AQE coalescing + co-partitioning make the whole chain one exchange
  per stage with no skew exposure. Never a per-user sort or collect_list:
  a sorted-array scan per user would ship every event of a hot user to
  one task, the relational min-chain ships one row per (user, stage).
- **Cohort retention** (``cohort_retention``): first-activity week per
  user (one groupBy), distinct (user, week) activity (one aggregate on
  the same key), join on user, then a count-distinct per
  (cohort, offset) cell. Cohort sizes re-join via broadcast — the cohort
  dimension is O(weeks), tiny at any corpus size.
- **SCD2** (``scd2_intervals``): change-point detection with
  lag/lead over (entity ORDER BY ts, id) — the standard
  slowly-changing-dimension type-2 build. One window per entity
  partition; entities are numerous and uniform so the sort is
  parallel and bounded per task.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.session import local_frame


def ordered_funnel(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user ordered funnel: a user reaches step k only via an event of
    type ``steps[k]`` STRICTLY AFTER their step k-1 timestamp (first
    qualifying occurrence). Returns one row per user with the reach
    timestamp of each step (null = never reached).

    Scale: len(steps) rounds of [filter → join(user) → groupBy(user)].
    Every exchange hashes the same uniform user key; the per-stage state
    is one row per user still in the funnel (monotonically shrinking).
    """
    if not steps:
        raise ValueError("ordered_funnel needs at least one step")
    out = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("step_0_ts"))
    )
    for k, step in enumerate(steps[1:], start=1):
        prev = f"step_{k - 1}_ts"
        nxt = (
            events.filter(F.col(type_col) == step)
            .select(user_col, F.col(ts_col).alias("__cand_ts"))
            .join(out.select(user_col, prev), user_col)
            .filter(F.col("__cand_ts") > F.col(prev))
            .groupBy(user_col)
            .agg(F.min("__cand_ts").alias(f"step_{k}_ts"))
        )
        out = out.join(nxt, user_col, "left")
    return out


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Stage-level funnel summary: users reaching each step plus the
    conversion rate from the previous step (round(6) for the parity gate).

    The per-user funnel collapses to one O(len(steps))-row frame, so the
    final lag window over a single partition is free.
    """
    per_user = ordered_funnel(events, steps, user_col, type_col, ts_col)
    stage_counts = per_user.select(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("step"),
                    F.lit(name).alias("step_name"),
                    F.col(f"step_{k}_ts").isNotNull().alias("reached"),
                )
                for k, name in enumerate(steps)
            ]
        ).alias("stages")
    )
    exploded = stage_counts.select(F.explode("stages").alias("s")).select(
        F.col("s.step").alias("step"),
        F.col("s.step_name").alias("step_name"),
        F.col("s.reached").cast("long").alias("reached"),
    )
    agg = exploded.groupBy("step", "step_name").agg(
        F.sum("reached").alias("users")
    )
    w = Window.orderBy("step")
    return agg.select(
        "step",
        "step_name",
        "users",
        F.round(
            F.col("users") / F.lag("users").over(w),
            6,
        ).alias("conv_from_prev"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: cohort = Monday-truncated week of the
    user's first event; one output row per (cohort_week, week_offset)
    with distinct active users and the retention rate vs cohort size.
    """
    # the join and countDistinct drop null users anyway; filtering them
    # up front gives the join side and the cohort sizes one ``firsts``
    # plan, so AQE reuses its exchange instead of aggregating it twice
    events = events.filter(F.col(user_col).isNotNull())
    week = F.date_trunc("week", F.col(ts_col))
    firsts = events.groupBy(user_col).agg(
        F.min(week).alias("cohort_week")
    )
    active = events.select(user_col, week.alias("active_week")).distinct()
    joined = active.join(firsts, user_col).select(
        user_col,
        "cohort_week",
        (
            F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
        )
        .cast("long")
        .alias("week_offset"),
    )
    cells = joined.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct(user_col).alias("active_users")
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.countDistinct(user_col).alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "active_users",
        "cohort_size",
        F.round(F.col("active_users") / F.col("cohort_size"), 6).alias(
            "retention_rate"
        ),
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2 from an event/change log: collapse
    consecutive equal attribute values per key into validity intervals
    [valid_from, valid_to) with a version number and is_current flag.

    Change points come from lag() over (key ORDER BY ts, tiebreak); the
    interval end from lead() over the change rows only. Two windows on the
    same partitioning → a single sort, reused by Catalyst.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    # Null-safe change test (<=>): a run of equal values (nulls included)
    # keeps only its first row; row_number==1 keeps the first row even when
    # its attr equals lag's null (an all-null first run).
    changed = (
        df.withColumn("__prev", F.lag(attr_col).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") == 1)
            | ~F.col(attr_col).eqNullSafe(F.col("__prev"))
        )
    )
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return changed.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        (F.row_number().over(w2)).cast("int").alias("version"),
        F.lead(ts_col).over(w2).isNull().cast("int").alias("is_current"),
    )


def markov_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of each entity's state stream:
    count and probability of every (src → dst) consecutive pair, ordered
    per entity by (ts, tiebreak).

    Scale: one lag window per entity partition (high-cardinality uniform
    key), then a groupBy on the (src, dst) pair — the state space is tiny
    so map-side combine collapses each task to O(states²) rows before the
    exchange; per-src totals are an O(states) frame joined back via
    broadcast.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = events.select(
        F.lag(state_col).over(w).alias("src"),
        F.col(state_col).alias("dst"),
    ).filter(F.col("src").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("src").agg(F.sum("n").alias("src_total"))
    return counts.join(F.broadcast(totals), "src").select(
        "src",
        "dst",
        "n",
        "src_total",
        F.round(F.col("n") / F.col("src_total"), 6).alias("p"),
    )


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str,
    touch_types: Sequence[str],
    horizon_days: int = 7,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: each conversion event is credited to the
    entity's most recent STRICTLY EARLIER touch event (by (ts, id) order)
    within ``horizon_days``; conversions with no qualifying touch keep
    null attribution columns. One row per conversion.

    Scale: a single LOCF-style window per entity — last(ignorenulls) over
    rows UNBOUNDED PRECEDING..1 PRECEDING carries the latest touch to
    every row; the horizon check is a post-filter on the carried
    timestamp. The three carried columns (ts/type/id) use independent
    last() calls over the same frame — they are non-null on exactly the
    touch rows, so all three resolve to the same touch row while keeping
    the plan struct-free (the SQL oracle mirrors column-wise).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col).isin(list(touch_types))

    def carried(col: str):
        return F.last(F.when(is_touch, F.col(col)), ignorenulls=True).over(w)

    out = events.select(
        key_col,
        id_col,
        ts_col,
        type_col,
        carried(ts_col).alias("__t_ts"),
        carried(type_col).alias("__t_type"),
        carried(id_col).alias("__t_id"),
    ).filter(F.col(type_col) == conversion_type)
    # Horizon test on the MATERIALIZED carried column — re-deriving the
    # window here would re-run it over the conversion-only rows.
    within = F.col("__t_ts") >= F.col(ts_col) - F.expr(
        f"INTERVAL {int(horizon_days)} DAYS"
    )
    return out.select(
        key_col,
        F.col(id_col).alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"),
        F.when(within, F.col("__t_ts")).alias("touch_ts"),
        F.when(within, F.col("__t_type")).alias("touch_type"),
        F.when(within, F.col("__t_id")).alias("touch_id"),
        F.when(within, F.lit(1)).otherwise(F.lit(0)).alias("attributed"),
    )


def running_balance_with_resets(
    df: DataFrame,
    reset_condition,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-entity running balance that RESETS to zero whenever
    ``reset_condition`` (a boolean Column) fires — the ledger /
    session-credit / counter-with-checkpoint pattern. A reset row
    starts a new segment and itself carries balance 0; later rows
    accumulate within their segment.

    The reset is expressed relationally with the two-window device:
    an inclusive running count of reset flags IS the segment id (each
    reset bumps it, becoming the first row of its own segment), then
    the balance is a running DECIMAL sum within (key, segment). No
    iterative state, no UDF — two windows sharing one per-key sort.

    Scale shape: both windows partition on the entity key and reuse
    the same (ts, id) sort; per-key state is O(1). Null values count
    as zero."""
    w_seg = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.withColumn(
        "__reset", reset_condition.cast("int")
    ).withColumn("segment", F.sum("__reset").over(w_seg).cast("long"))
    w_bal = (
        Window.partitionBy(key_col, "segment")
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    contrib = F.when(
        F.col("__reset") == 1, F.lit(0).cast("decimal(18,4)")
    ).otherwise(
        F.coalesce(F.col(value_col), F.lit(0)).cast("decimal(18,4)")
    )
    return (
        flagged.withColumn(
            "balance",
            F.round(F.sum(contrib).over(w_bal).cast("double"), 6),
        )
        .drop("__reset")
    )


def inter_event_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Arrival-interval telemetry per event type: for each event, the
    gap (seconds) since the SAME user's previous event of any type;
    grouped by the later event's type into count / mean / population
    std / median-element. The "how bursty is each action" report that
    drives session-timeout and rate-limit tuning.

    Determinism: gaps are integer seconds (exact timestamp arithmetic),
    so the moment sums are exact integer aggregates; the median is a
    nearest-rank ELEMENT (lower median) via one per-type sort window —
    never an interpolated percentile. Mean/std round(6) in double only
    at the end.

    Scale shape: one per-user lag window (user is
    high-cardinality — no funnel), then the per-TYPE rank + count over
    the O(events) gap frame from operators/prefix.group_rank_frame
    (one range exchange — event types are LOW-cardinality, and the
    former sort window serialized each type through one task) + a
    map-side-combinable aggregate."""
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    gaps = (
        df.withColumn("__prev", F.lag(ts_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col(type_col).alias("event_type"),
            # exact integer micros, divide the DIFFERENCE (truncating
            # each timestamp to seconds first would shift gaps by ±1
            # when sub-second parts straddle a boundary — caught by the
            # oracle gate)
            F.floor(
                (F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("__prev")))
                / F.lit(1000000)
            ).cast("long").alias("gap_s"),
        )
    )
    from big_data_project_datapipeline_spark.operators.prefix import (
        group_rank_frame,
    )

    ranked = group_rank_frame(
        gaps,
        ["event_type"],
        ["gap_s"],
        group_rank_col="__i",
        group_count_col="__n",
    )
    # lower-median element: first i with 2i >= n (integer arithmetic —
    # no float rank, no interpolation; the grouped_lower_median
    # convention)
    # gap_s*gap_s in long arithmetic overflows at ~3e9-second gaps
    # (epoch-0 artifacts); exact decimal products keep the moments
    # order-independent AND unbounded (the oracle mirrors them)
    g_dec = F.col("gap_s").cast("decimal(19,0)")
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("gap_s").alias("__s"),
        F.sum(g_dec * g_dec).alias("__ss"),
        F.min(
            F.when(2 * F.col("__i") >= F.col("__n"), F.col("gap_s"))
        ).alias("median_gap_s"),
    )
    nd = F.col("n_intervals").cast("double")
    mean = F.col("__s").cast("double") / nd
    var = F.col("__ss").cast("double") / nd - mean * mean
    return agg.select(
        "event_type",
        "n_intervals",
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_gap_s"),
        "median_gap_s",
    )


def markov_removal_attribution(
    events: DataFrame,
    conv_state: str = "purchase",
    horizon: int = 12,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Data-driven multi-touch attribution via Markov removal effects
    (Anderl et al. 2016 — the model behind R's ChannelAttribution):
    build the first-order journey chain (START → events → conversion /
    NULL), compute the chain's conversion probability by FIXED-HORIZON
    value iteration, then for each channel re-run the iteration with
    every transition INTO that channel redirected to NULL; the relative
    drop is the channel's removal effect, normalized into attribution
    shares. Unlike last-touch (q81) this credits assisting touches in
    proportion to how much the conversion probability actually depends
    on them.

    Exact semantics (everything the oracle mirrors):

    - journeys order per entity by (ts, tiebreak) and TRUNCATE at the
      first ``conv_state`` inclusive (first-conversion attribution);
      non-converting journeys append a terminal → 'NULL' transition,
      and a virtual 'START' precedes every first event.
    - transition probabilities are plain count ratios (unrounded IEEE
      division).
    - conversion probability = v_horizon('START') where v_0 ≡ 0 and
      v_{k+1}(s) = Σ_dst p(s→dst)·val(dst), val = 1 at conversion, 0
      at NULL, v_k elsewhere — i.e. the probability of converting
      within ``horizon`` steps. The fixed horizon (not
      iterate-to-convergence) makes the number deterministic and
      engine-portable; per-term products are decimal(28,12)-summed
      (the pagerank device) so partition order cannot move a bit.
    - removal variant c: dst == c ⇒ dst = 'NULL' (c becomes
      unreachable, so its own out-edges are inert); removal_effect =
      1 − v^(−c)/v, shares normalize over the removable channels via
      a 1-row broadcast total (no global window).

    Scale: one lag window per entity partition; the data-sized work
    ends at the pair-count groupBy, exactly like
    :func:`markov_transitions`. The chain solve itself is bounded —
    O(states²) transitions × O(states) variants × horizon — and runs
    on the driver from one bounded collect (see the inline note for
    why the relational form of a 30-row iteration is the wrong shape).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    prior_conv = F.sum(
        F.when(F.col(state_col) == conv_state, 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    journey = (
        events.filter(F.col(key_col).isNotNull())
        .withColumn("__prior", F.coalesce(prior_conv, F.lit(0)))
        .filter(F.col("__prior") == 0)
    )
    pairs = journey.select(
        F.coalesce(
            F.lag(state_col).over(w), F.lit("START")
        ).alias("src"),
        F.col(state_col).alias("dst"),
    )
    tails = (
        journey.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(key_col).orderBy(
                    F.col(ts_col).desc(), F.col(tiebreak_col).desc()
                )
            ),
        )
        .filter((F.col("__rn") == 1) & (F.col(state_col) != conv_state))
        .select(
            F.col(state_col).alias("src"), F.lit("NULL").alias("dst")
        )
    )
    counts = (
        pairs.unionByName(tails)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("src").agg(F.sum("n").alias("t"))
    trans = counts.join(F.broadcast(totals), "src").select(
        "src",
        "dst",
        (F.col("n").cast("double") / F.col("t").cast("double")).alias("p"),
    )
    # The chain solve is a BOUNDED problem — O(states²) transitions,
    # O(states) variants, `horizon` sweeps — independent of data
    # volume, so it belongs on the driver (the k-means-centroid /
    # pagerank-scalar precedent): one bounded collect of the
    # transition matrix, then (variants × horizon × transitions)
    # python operations. The first relational form ran the 12
    # iterations as ~36 shuffle stages over ≤30-row frames and cost
    # 14.6 s warm at sf0.1 from pure stage overhead; the driver solve
    # is ~1 s, and at 100 TB only the journey/pair extraction above
    # grows. Parity: the python arithmetic replicates the SQL mirror
    # op-for-op — IEEE double products, each term quantized to
    # decimal(28,12) HALF_UP (terms are nonnegative, so DuckDB's
    # half-away rounding agrees), exact Decimal sums, one float()
    # narrowing per state per sweep.
    from decimal import ROUND_HALF_UP, Decimal

    q12 = Decimal(1).scaleb(-12)
    if conv_state in ("START", "NULL"):
        raise ValueError(
            "conv_state collides with a reserved sentinel state "
            f"({conv_state!r}); rename the conversion event"
        )
    # collect-ok: O(states^2) transition matrix (bounded chain solve)
    trows = [(r["src"], r["dst"], r["p"]) for r in trans.collect()]
    # Sentinel-collision guard: the chain reserves 'START'
    # and 'NULL' as virtual states. A REAL event named 'NULL' would
    # silently become an absorbing non-conversion state, and a real
    # 'START' would merge with the virtual source. Detection is free
    # at this bounded collect: the virtual START is never a dst (it
    # only emits), and the virtual NULL never emits (every real
    # non-conversion state appears as some transition's src — either
    # it precedes another event or it heads a terminal tail edge).
    if any(d == "START" for _, d, _ in trows):
        raise ValueError(
            "observed event_type 'START' collides with the reserved "
            "journey-source sentinel; namespace your states"
        )
    if any(s == "NULL" for s, _, _ in trows):
        raise ValueError(
            "observed event_type 'NULL' collides with the reserved "
            "non-conversion sentinel; namespace your states"
        )
    srcs = sorted({s for s, _, _ in trows})
    channels = sorted(
        {d for _, d, _ in trows if d not in (conv_state, "NULL")}
    )

    def _solve(removed: str | None) -> float:
        v = {s: 0.0 for s in srcs}
        for _ in range(horizon):
            sums = {s: Decimal(0) for s in srcs}
            for src, dst, p in trows:
                d = "NULL" if (removed is not None and dst == removed) else dst
                if d == conv_state:
                    val = 1.0
                elif d == "NULL":
                    val = 0.0
                else:
                    val = v.get(d, 0.0)
                sums[src] += Decimal(p * val).quantize(
                    q12, rounding=ROUND_HALF_UP
                )
            v = {s: float(x) for s, x in sums.items()}
        return v.get("START", 0.0)

    pf = _solve(None)
    rows = []
    effects: list[tuple[str, float | None]] = []
    for c in channels:
        pr = _solve(c)
        re = (1.0 - pr / pf) if pf != 0.0 else None
        effects.append((c, re))
        rows.append((c, pf, pr, re))
    tre_dec = sum(
        (
            Decimal(re).quantize(q12, rounding=ROUND_HALF_UP)
            for _, re in effects
            if re is not None
        ),
        Decimal(0),
    )
    tre = float(tre_dec) if any(re is not None for _, re in effects) else None
    raw = local_frame(
        events.sparkSession,
        [(c, a, b, r, tre) for (c, a, b, r) in rows],
        "channel string, __pf double, __pr double, __re double, "
        "__tre double",
    )
    # final rounding happens IN-ENGINE so ROUND semantics match the
    # oracle exactly (python round() is half-even and would diverge)
    return raw.select(
        "channel",
        F.round(F.col("__pf"), 6).alias("p_conv"),
        F.round(F.col("__pr"), 6).alias("p_conv_removed"),
        F.round(F.col("__re"), 6).alias("removal_effect"),
        F.round(
            F.col("__re") / F.nullif(F.col("__tre"), F.lit(0.0)), 6
        ).alias("attribution_share"),
    )
