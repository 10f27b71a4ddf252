"""Interval sweep-line: concurrency of [start, end] intervals over a
date axis — "how many were open at once" (orders in flight, sessions
active, rentals out), the classic +1/−1 event-boundary device.

Scale shape: the ONLY per-row work is emitting two (date, ±1) deltas,
folded by a map-side-combinable groupBy(date) — the running sum then
runs over the O(distinct dates) step frame, which is bounded by the
CALENDAR (a 100 TB feed still spans a few thousand dates), not by the
data volume. That bounded frame is the one place a global window is
legitimate (the q160 survival-curve precedent, adjudicated in
tools/plan_audit.GLOBAL_WINDOW_ALLOWLIST); the distributed alternative
for unbounded axes is operators/prefix.partitioned_prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_concurrency(
    df: DataFrame, start_col: str, end_col: str
) -> DataFrame:
    """Step frame of interval concurrency at DATE granularity:
    (ts, net, concurrent), one row per date where concurrency changes,
    ordered meaning: ``concurrent`` holds on [ts, next_ts).

    Intervals are inclusive of both endpoint DATES (the −1 delta lands
    on end+1 day). Rows with a NULL endpoint or end < start are
    dropped — an unclosed or corrupt interval has no defined span;
    filter/repair upstream to count them differently.
    """
    s = F.to_date(F.col(start_col))
    e = F.to_date(F.col(end_col))
    iv = df.filter(s.isNotNull() & e.isNotNull() & (e >= s)).select(
        s.alias("_s"), e.alias("_e")
    )
    deltas = iv.select(
        F.col("_s").alias("ts"), F.lit(1).alias("delta")
    ).union(
        iv.select(F.date_add(F.col("_e"), 1).alias("ts"), F.lit(-1))
    )
    net = deltas.groupBy("ts").agg(
        F.sum("delta").cast("long").alias("net")
    )
    w = Window.orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return net.withColumn(
        "concurrent", F.sum("net").over(w).cast("long")
    )


def monthly_peak_concurrency(
    df: DataFrame, start_col: str, end_col: str
) -> DataFrame:
    """Per-calendar-month PEAK concurrency: (month, peak) — the max of
    the step function over each month, including the CARRY-IN (the
    concurrency standing as the month opens, i.e. the last step value
    of the previous observed month): a month where nothing changed but
    10 intervals stayed open peaks at 10, not 0. Months with no step
    rows inherit nothing to report and are absent — their peak equals
    their carry-in by definition and the preceding month already
    reported that value.

    Both windows (the running sum inside interval_concurrency and the
    month-ordered lag here) run over calendar-bounded frames.
    """
    step = interval_concurrency(df, start_col, end_col)
    per = step.groupBy(F.trunc("ts", "month").alias("month")).agg(
        F.max("concurrent").alias("_mx"),
        F.max_by("concurrent", "ts").alias("_last"),
    )
    w = Window.orderBy("month")
    return per.select(
        "month",
        F.greatest(
            F.col("_mx"), F.coalesce(F.lag("_last").over(w), F.lit(0))
        )
        .cast("long")
        .alias("peak"),
    )
