"""Exact distributed order-prefix aggregates — the two-pass
zipWithIndex device, relational form.

A global ``row_number()``/running-sum window with no PARTITION BY
serializes the whole frame through one task (Spark even warns
``WindowExec: No Partition Defined``). That is fine on a collapsed
O(groups) frame, but a scale-killer when the frame is O(rows), as in
quantile-normalize (pooled rank over every event), RFM quintiles (3×
ntile over every customer) and the Heaps-law cumulative curve (cumsum
over every doc).

The classic fix is RDD ``zipWithIndex``: one pass for per-partition
counts, a tiny driver-side prefix over O(partitions) offsets, one
map-side pass adding the offset. This module is the DataFrame
version, generalized to running sums (the ranged frame is pinned to
ONE materialization via lazy localCheckpoint — repartitionByRange
samples its boundaries per execution, so letting each pass run its
own exchange corrupts the offset join, as measured at sf10):

1. ``repartitionByRange`` on the (unique) order key → each partition
   holds a contiguous, disjoint key range, so global order =
   (partition id, within-partition order). Adaptive coalescing only
   merges ADJACENT shuffle partitions, so ranges stay disjoint.
2. per-partition totals (count + sums) via one map-side-combinable
   groupBy on ``spark_partition_id()``;
3. exclusive prefix over the O(partitions) totals frame — the ONLY
   unpartitioned window, provably bounded (plan-audit allowlisted);
4. broadcast the offsets back; rank = offset + per-partition
   row_number, running sum = offset + per-partition running sum.

Results are bit-identical to the single-partition window (integer /
decimal arithmetic reassociates per-partition-first, which is exact
for the long/decimal accumulators every caller uses), so DuckDB
oracle parity is unaffected.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def partitioned_prefix(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    rank_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach exact global-order prefix columns without a global sort.

    ``order_cols`` must form a UNIQUE key (callers tie-break with an id
    column) so the total order — and therefore every rank and running
    sum — is deterministic regardless of partition boundaries.

    COST CONTRACT: the ranged frame is materialized ONCE (lazy
    localCheckpoint — a correctness requirement, see the inline
    comment) and its blocks are read by both the totals pass and the
    emit pass; repartitionByRange adds a sampling job. Callers whose
    input is expensive to recompute may still persist it (the
    q128/q135/q166 pattern) to keep the pre-exchange lineage warm for
    their OTHER consumers.

    Adds ``rank_col`` (1-based global row_number, LongType) if
    requested and ``<c>__cum`` (inclusive running sum over the total
    order) for each ``c`` in ``sum_cols``. Sum columns should be
    integral or decimal so per-partition reassociation is exact; float
    callers accept the usual reassociation wobble.
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    # No explicit partition count unless the caller pins one: an
    # explicit n disables AQE's partition coalescing for the range
    # exchange, and a collapsed frame shuffled into 32 near-empty
    # partitions pays ~2.5x in task overhead (measured on the q128
    # frame at sf0.1: 2.6 s -> 1.1 s). AQE only merges ADJACENT range
    # partitions, so contiguity — and therefore rank correctness —
    # is preserved either way.
    cols = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    ).withColumn("__pid", F.spark_partition_id())
    # CORRECTNESS, not caching: the totals pass
    # and the emit pass below MUST see the SAME partition boundaries,
    # but column pruning gives each consumer its own physical range
    # exchange, and repartitionByRange SAMPLES its boundaries per
    # execution with an RDD-id-derived seed — two executions can place
    # boundaries differently (ties/sampling variance), after which the
    # emit pass joins offsets computed in a different __pid space
    # (observed at the sf10 smoke: thousands of wrong — even negative —
    # group ranks in q184; invisible at the gate SFs, where AQE
    # coalesces the tiny exchange to one partition). A lazy
    # localCheckpoint pins ONE materialization that both passes read;
    # the checkpointed blocks free via the ContextCleaner once every
    # derived frame is garbage (the lifetime tied to the JVM reference
    # graph — a GC-finalizer persist would be unsound here, since
    # dropping an intermediate wrapper must not resample boundaries).
    part = part.localCheckpoint(eager=False)
    aggs = [F.count(F.lit(1)).cast("long").alias("__cnt")] + [
        F.sum(c).alias(f"__s_{c}") for c in sum_cols
    ]
    totals = part.groupBy("__pid").agg(*aggs)
    # Exclusive prefix over the O(partitions) totals frame — bounded by
    # construction. The constant partition key pmod(__pid, 1) == 0
    # makes that boundedness explicit in the plan while executing
    # identically to an unpartitioned window over this tiny frame
    # (a plain lit(0) would be stripped by Catalyst's
    # EliminateWindowPartitions, reintroducing the "No Partition
    # Defined" WindowExec the global-window audit hunts).
    woff = (
        Window.partitionBy(F.pmod(F.col("__pid"), F.lit(1)))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0).cast("long")).alias(
            "__off_cnt"
        )
    ] + [
        F.coalesce(
            F.sum(f"__s_{c}").over(woff), F.lit(0).cast("long")
        ).alias(f"__off_{c}")
        for c in sum_cols
    ]
    offsets = totals.select("__pid", *off_cols)
    wp = Window.partitionBy("__pid").orderBy(*order_cols)
    wps = wp.rowsBetween(Window.unboundedPreceding, 0)
    sel = [F.col(c) for c in df.columns]
    if rank_col is not None:
        sel.append(
            (F.col("__off_cnt") + F.row_number().over(wp))
            .cast("long")
            .alias(rank_col)
        )
    for c in sum_cols:
        sel.append(
            (F.col(f"__off_{c}") + F.sum(F.col(c)).over(wps)).alias(
                f"{c}__cum"
            )
        )
    return part.join(F.broadcast(offsets), "__pid").select(*sel)


def grouped_prefix(
    df: DataFrame,
    order_cols: Sequence[str],
    group_col: str,
    rank_col: str | None = "__rank",
    group_rank_col: str | None = "__grank",
    group_count_col: str | None = "__gcnt",
    sum_cols: Sequence[str] = (),
) -> DataFrame:
    """Global rank AND per-group rank / running sums (plus per-group
    totals) from ONE range exchange — the low-cardinality-group
    companion to :func:`partitioned_prefix`.

    For each ``c`` in ``sum_cols`` the output carries ``<c>__gcum``
    (inclusive running sum over the group's total order) and
    ``<c>__gtot`` (the group's total) — the cumulative-distribution
    shape every ECDF/Gini/Lorenz/weighted-percentile caller needs.
    Sum columns should be integral or decimal so per-partition
    reassociation is exact (the partitioned_prefix contract). Any of
    the three name parameters may be None to skip that column.

    The defect this exists for (found in the q166 sf10 smoke): a
    ``Window.partitionBy(group)`` rank over an O(rows) frame is only
    parallel up to the number of DISTINCT groups. With 5 event types,
    5 tasks sort 1/5 of the corpus each — measured 133 MB of sort
    spill at 10M rows, and a straggler funnel at 100 TB (each group is
    one task regardless of cluster size). The plan-audit's
    unpartitioned-window detector cannot flag it: the window IS
    partitioned, just on a key whose cardinality doesn't scale with
    the data.

    Device: range-repartition on ``order_cols`` (a UNIQUE key — global
    order = (partition id, within-partition order); within one
    partition each group's rows are also contiguous in that order, so
    per-group order = (partition id, within-partition-within-group
    order)). One map-side-combinable totals pass counts rows per
    (partition, group); exclusive prefixes over that O(P·G) frame —
    per-pid for the global offsets, per-(group) ordered by pid for the
    group offsets — are provably bounded windows (same allowlist
    family as partitioned_prefix's). Broadcast back, emit both ranks
    with two partition-LOCAL sorts (both windows partition by __pid —
    uniform, high-card — never by the group).

    NULL group keys are ordinary groups (the Window.partitionBy and
    GROUP BY semantics): the key is carried as a one-field struct so
    the totals groupBy, offset windows, and emit join all treat NULL
    null-safely (a plain equi-join would drop NULL-group rows the
    offsets pass had counted).

    CONTRACT: intended for group cardinalities where O(partitions ×
    groups) stays a broadcastable frame (monitoring/report groups:
    event types, sources, languages...). For high-cardinality groups
    the plain ``Window.partitionBy(group)`` has no skew problem and
    should be used directly.

    Cost: the range-exchanged frame is materialized once (lazy
    localCheckpoint — the partitioned_prefix correctness contract)
    and read by the totals and emit passes; the emit pass carries one
    hash(__pid) exchange + two local sorts.
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    cols = [F.col(c) for c in order_cols]
    # NULL-SAFE group key: the emit pass re-joins the
    # offsets frame on the group key, and a plain equi-join drops NULL
    # keys — while the offsets windows COUNT them (NULLS FIRST in the
    # group-major sort), corrupting every later group's offsets. The
    # Window.partitionBy forms this device replaces treat NULL as an
    # ordinary group, and so do the DuckDB oracles' GROUP BYs. Wrapping
    # the key in a one-field struct (never NULL; struct comparison and
    # join equality treat NULL fields as equal — the same trick the
    # multi-column group_rank_frame path already relies on) makes the
    # groupBy, all four offset windows, and the emit join agree on NULL
    # groups while staying a BroadcastHashJoin.
    gk = "__gpk"
    # Lazy localCheckpoint for the same reason as partitioned_prefix
    # (see the comment there): the offsets pass and the emit pass must
    # read ONE materialization of the range exchange — per-execution
    # boundary sampling otherwise corrupts every offset join (at sf10
    # it gave negative group ranks in q184).
    part = (
        df.repartitionByRange(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(gk, F.struct(F.col(group_col)))
        .localCheckpoint(eager=False)
    )
    totals = part.groupBy("__pid", gk).agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        *[F.sum(c).alias(f"__s_{c}") for c in sum_cols],
    )
    # ALL FOUR offset columns come from windows over this ONE O(P·G)
    # totals frame, so `totals` has exactly one consumer and the
    # checkpointed ranged frame is read exactly twice (this offsets
    # pass + the emit pass). An earlier draft split the global offset
    # into its own groupBy branch; with two consumers the unpersisted
    # totals lineage ran once per consumer (the profiled HITS defect,
    # tools/profile_stages.py: 3 identical 10M-row exchange stages at
    # sf10 instead of 2).
    #
    # __off: rows in EARLIER partitions, any group — a range-frame
    # exclusive prefix over pid (the range frame sums every row with
    # a strictly smaller pid, so multiple group rows per pid need no
    # per-pid pre-aggregate). pmod constant-partition device as in
    # partitioned_prefix.
    woff = (
        Window.partitionBy(F.pmod(F.col("__pid"), F.lit(1)))
        .orderBy("__pid")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    # __goff: this group's rows in earlier partitions (bounded: <= P
    # rows per group — the group key is only ever a window key on
    # this tiny frame, never on the O(rows) frame).
    wgrp = (
        Window.partitionBy(gk)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wgall = Window.partitionBy(gk)
    # __gstart: where this group's block starts WITHIN its partition
    # under a group-major sort — lets the emit pass derive the
    # within-(pid, group) position from a row_number that partitions
    # by __pid ALONE, so both emit windows share ONE hash(__pid)
    # exchange (partitioning the second window by (__pid, group)
    # would be a second O(rows) exchange; two partition-local sorts
    # are the cheaper trade).
    wstart = (
        Window.partitionBy("__pid")
        .orderBy(gk)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_sel = [
        F.col("__pid"),
        F.col(gk),
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0).cast("long")).alias(
            "__off"
        ),
        F.coalesce(F.sum("__cnt").over(wgrp), F.lit(0).cast("long")).alias(
            "__goff"
        ),
        F.coalesce(F.sum("__cnt").over(wstart), F.lit(0).cast("long")).alias(
            "__gstart"
        ),
        F.sum("__cnt").over(wgall).cast("long").alias(
            group_count_col or "__gcnt_unused"
        ),
    ]
    for c in sum_cols:
        sc = F.col(f"__s_{c}")
        off_sel.append(
            F.coalesce(F.sum(sc).over(wgrp), F.lit(0)).alias(f"__gsoff_{c}")
        )
        off_sel.append(
            F.coalesce(F.sum(sc).over(wstart), F.lit(0)).alias(
                f"__sstart_{c}"
            )
        )
        off_sel.append(F.sum(sc).over(wgall).alias(f"{c}__gtot"))
    joff = totals.select(*off_sel)
    wp = Window.partitionBy("__pid").orderBy(*order_cols)
    wpo = Window.partitionBy("__pid").orderBy(gk, *order_cols)
    wpos = wpo.rowsBetween(Window.unboundedPreceding, 0)
    sel = [F.col(c) for c in df.columns]
    if rank_col is not None:
        sel.append(
            (F.col("__off") + F.row_number().over(wp))
            .cast("long")
            .alias(rank_col)
        )
    if group_rank_col is not None:
        sel.append(
            (
                F.col("__goff")
                + (F.row_number().over(wpo) - F.col("__gstart"))
            )
            .cast("long")
            .alias(group_rank_col)
        )
    if group_count_col is not None:
        sel.append(F.col(group_count_col))
    for c in sum_cols:
        # inclusive within-group running sum over the group's total
        # order: earlier-partition group total + (group-major running
        # sum within this partition − this group's block start sum)
        sel.append(
            (
                F.col(f"__gsoff_{c}")
                + (F.sum(F.col(c)).over(wpos) - F.col(f"__sstart_{c}"))
            ).alias(f"{c}__gcum")
        )
        sel.append(F.col(f"{c}__gtot"))
    return part.join(F.broadcast(joff), ["__pid", gk]).select(*sel)


def group_rank_frame(
    df: DataFrame,
    by: Sequence[str],
    order_cols: Sequence[str],
    group_rank_col: str | None = "__gr",
    group_count_col: str | None = "__gn",
    sum_cols: Sequence[str] = (),
) -> DataFrame:
    """`by`-sequence adapter over :func:`grouped_prefix` /
    :func:`partitioned_prefix` — the drop-in replacement for the
    ``Window.partitionBy(*by).orderBy(*order)`` rank/count/cumsum
    trio on O(rows) frames whose group key has LOW cardinality (the
    funnel class: such a window is parallel only up to the number of
    distinct groups).

    - empty ``by``  → global: partitioned_prefix rank/cumsums, count
      folded in from one broadcast 1-row aggregate;
    - one column    → grouped_prefix directly;
    - multiple cols → a composite struct key (structs order, group,
      and join by field order in both Spark and the offsets windows),
      dropped on output.

    Output columns and semantics match grouped_prefix's.
    """
    bys = list(by)
    if not bys:
        out = partitioned_prefix(
            df, order_cols, sum_cols=sum_cols, rank_col=group_rank_col
        )
        # align column names with grouped_prefix's; totals fold in
        # from ONE broadcast 1-row aggregate over the input
        for c in sum_cols:
            out = out.withColumnRenamed(f"{c}__cum", f"{c}__gcum")
        tot_aggs = []
        if group_count_col is not None:
            tot_aggs.append(
                F.count(F.lit(1)).cast("long").alias(group_count_col)
            )
        tot_aggs.extend(F.sum(c).alias(f"{c}__gtot") for c in sum_cols)
        if tot_aggs:
            out = out.crossJoin(F.broadcast(df.agg(*tot_aggs)))
        return out
    if len(bys) == 1:
        return grouped_prefix(
            df,
            order_cols,
            bys[0],
            rank_col=None,
            group_rank_col=group_rank_col,
            group_count_col=group_count_col,
            sum_cols=sum_cols,
        )
    keyed = df.withColumn("__gkey", F.struct(*[F.col(c) for c in bys]))
    return grouped_prefix(
        keyed,
        order_cols,
        "__gkey",
        rank_col=None,
        group_rank_col=group_rank_col,
        group_count_col=group_count_col,
        sum_cols=sum_cols,
    ).drop("__gkey")


def _exact_div(num, den):
    """Exact integer division of long Columns (num assumed divisible by
    den): route through DECIMAL so no double rounding can wobble large
    counts, then truncate back to long."""
    return (
        num.cast("decimal(38,0)") / den.cast("decimal(38,0)")
    ).cast("long")


def _ceil_div(a, b):
    """ceil(a/b) for positive long Columns, exact integer arithmetic."""
    num = a + b - F.lit(1).cast("long")
    return _exact_div(num - num % b, b)


def ntile_from_rank(rank, n_rows, tiles: int):
    """Exact ``ntile(tiles)`` from a precomputed global rank: the first
    ``n mod tiles`` buckets get ``ceil(n/tiles)`` rows, the rest
    ``floor(n/tiles)`` — Spark's (and DuckDB's) documented semantics,
    reproduced arithmetically so bucket assignment needs no window at
    all once a distributed rank exists (partitioned_prefix).

    ``rank``/``n_rows`` are 1-based/positive long Columns; returns an
    int Column. When ``n_rows < tiles`` every row lands in a size-1
    "big" bucket, so the small-bucket branch (whose divisor would be 0)
    is never taken — CASE WHEN evaluates lazily, keeping this ANSI-safe.
    """
    t = F.lit(int(tiles)).cast("long")
    rem = n_rows % t
    q = _exact_div(n_rows - rem, t)
    one = F.lit(1).cast("long")
    big_span = rem * (q + one)
    return (
        F.when(rank <= big_span, _ceil_div(rank, q + one))
        .otherwise(rem + _ceil_div(rank - big_span, q))
        .cast("int")
    )


def partitioned_prefix_strict_min(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "__pmin",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive (strict-predecessor) running MIN over the global
    order — the min-monoid sibling of :func:`partitioned_prefix`'s
    running sums, for consumers like the 2-D skyline sweep that ask
    "what is the best value among everything strictly before me".
    Same device: one range exchange pinned to a single lazy
    localCheckpoint materialization (boundary resampling would
    otherwise corrupt the offsets), per-partition windows, and an
    O(partitions) broadcast of the strictly-prior partition minima
    (min is associative and commutative, so per-partition
    reassociation is exact for any totally ordered type — no decimal
    caveat). ``order_cols`` must form a unique key. The first row in
    the total order gets NULL (empty predecessor set).
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    cols = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    ).withColumn("__pid", F.spark_partition_id())
    part = part.localCheckpoint(eager=False)
    totals = part.groupBy("__pid").agg(
        F.min(value_col).alias("__pm")
    )
    # bounded O(partitions) frame; pmod keeps the boundedness explicit
    # in the plan (the partitioned_prefix device)
    woff = (
        Window.partitionBy(F.pmod(F.col("__pid"), F.lit(1)))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__pid", F.min("__pm").over(woff).alias("__off_min")
    )
    wp = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # least() skips NULLs: first row of a partition folds in only the
    # prior-partition minimum; the global first row stays NULL
    return (
        part.join(F.broadcast(offsets), "__pid")
        .select(
            *df.columns,
            F.least(
                F.min(F.col(value_col)).over(wp), F.col("__off_min")
            ).alias(out_col),
        )
    )
