"""Time-series gap fill: dense time grid per series + LOCF forward fill.

The reference builds its half-hourly grid eagerly with
``pd.date_range(...)`` and leaves unmatched slots NaN (raw_data.py, the
merge_all_sources grid); a Timescale/InfluxDB-style engine additionally
offers *gap fill with last-observation-carried-forward*. This module is
that operator, Spark-first:

- The grid is generated WITH ``F.sequence`` + ``explode`` per series —
  the span bounds come from the series' own min/max (one aggregate), so
  nothing is collected to the driver and a series with a week of data
  doesn't get a year of empty slots.
- LOCF is ``last(value, ignorenulls=True)`` over
  (series ORDER BY slot ROWS UNBOUNDED PRECEDING) — one window per
  series partition, the canonical Spark forward-fill.

Scale: the window sort is per-series; with many series (the normal shape:
sensor/meter/region keys) partitions are uniform and parallel. For ONE
pathological giant series, chunk by calendar range first, LOCF within
chunks, then fix up chunk heads with a per-chunk "last value" frame
(documented here; not needed at this surface where series count >> cores).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


_UNIT_MICROS = {
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3600 * 1_000_000,
    "day": 86400 * 1_000_000,
    "week": 7 * 86400 * 1_000_000,
}


def _parse_step(step: str) -> tuple[int, str, int]:
    """(quantity, unit, step_micros). Multi-unit steps are supported for
    fixed-length units only (no '2 months' — variable length)."""
    qty_s, unit_s = step.split()
    qty, unit = int(qty_s), unit_s.rstrip("s")
    if qty < 1:
        raise ValueError(f"step quantity must be >= 1: {step!r}")
    if qty > 1 and unit not in _UNIT_MICROS:
        raise ValueError(
            f"multi-unit step {step!r} needs a fixed-length unit "
            f"({sorted(_UNIT_MICROS)})"
        )
    return qty, unit, _UNIT_MICROS.get(unit, 0) * qty


def _anchored_slot(ts: Column, lo: Column, step_us: int) -> Column:
    """Bucket ts onto the lo-anchored step grid: lo + floor((ts-lo)/step)*step
    in exact integer microseconds. For a 1-unit step with lo truncated to
    that unit this IS date_trunc; for multi-unit steps ('30 minutes') it is
    the grid date_trunc silently misaligns with (observations landing
    off-grid would be dropped by the grid join and their values lost)."""
    off = F.unix_micros(ts) - F.unix_micros(lo)
    return F.timestamp_micros(
        F.unix_micros(lo) + (off - F.pmod(off, F.lit(step_us)))
    )


def time_grid(
    df: DataFrame,
    series_col: str,
    ts_col: str = "ts",
    step: str = "1 hour",
) -> DataFrame:
    """Dense per-series slot grid from each series' own [min, max] span.

    One groupBy(series) for the bounds, then sequence+explode — the grid
    never leaves the executors. The anchor is the series min truncated to
    the step's unit; sequence endpoints therefore align with the
    observation buckets for BOTH single- and multi-unit steps.
    """
    qty, unit, _ = _parse_step(step)
    bounds = df.groupBy(series_col).agg(
        F.date_trunc(unit, F.min(ts_col)).alias("__lo"),
        F.max(ts_col).alias("__hi"),
    )
    return bounds.select(
        series_col,
        F.explode(
            F.sequence(
                F.col("__lo"),
                F.col("__hi"),
                F.expr(f"INTERVAL {step}"),
            )
        ).alias("slot"),
    )


def gap_fill_locf(
    df: DataFrame,
    series_col: str,
    ts_col: str = "ts",
    value: Column | None = None,
    step: str = "1 hour",
    agg_alias: str = "value",
) -> DataFrame:
    """Densify each series to a fixed step and forward-fill missing slots.

    Observations falling in the same slot aggregate with a decimal-exact
    mean (order-independent across partitions — the parity rule for any
    double sum). Output: one row per (series, slot) with the filled value
    and ``filled`` = 1 where the slot had no observation.
    """
    value = value if value is not None else F.col("value")
    qty, unit, step_us = _parse_step(step)
    dec = value.cast("decimal(18,4)")
    if qty == 1:
        staged = df.withColumn("__slot", F.date_trunc(unit, F.col(ts_col)))
    else:
        # multi-unit step: bucket on the series-anchored grid (identical
        # to date_trunc for qty=1; date_trunc alone would misalign the
        # buckets with the grid and silently drop off-grid observations)
        anchors = df.groupBy(series_col).agg(
            F.date_trunc(unit, F.min(ts_col)).alias("__lo")
        )
        staged = df.join(anchors, series_col).withColumn(
            "__slot", _anchored_slot(F.col(ts_col), F.col("__lo"), step_us)
        )
    observed = staged.groupBy(
        F.col(series_col), F.col("__slot").alias("slot")
    ).agg(
        (F.sum(dec).cast("double") / F.count(value)).alias("__obs")
    )
    grid = time_grid(df, series_col, ts_col, step)
    w = (
        Window.partitionBy(series_col)
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(observed, [series_col, "slot"], "left")
    return joined.select(
        series_col,
        "slot",
        F.last("__obs", ignorenulls=True).over(w).alias(agg_alias),
        F.col("__obs").isNull().cast("int").alias("filled"),
    )
