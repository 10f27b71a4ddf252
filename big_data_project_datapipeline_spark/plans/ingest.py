"""Ingestion pipeline: merge 5 sources → the target day's hourly grid.

Mirrors ``merge_all_sources`` + ``collect_and_append_yesterday`` (reference
raw_data.py:210-269,273-352) as lazy plans:

    weather ⟗ air_quality ⟗ carbon          (J1, J2 full-outer on datetime)
      as-of⋈ prices (nearest, ±30 min)       (J3)
      ⟕ broadcast(generation_mix row)        (J4, on TRUE; empty mix raises)
      filter(day == target, minute == 0)     (F1, F2: ``day_grid``)

The daily cron upserts that grid into the date-partitioned store with
``sinks.merge_into_partitioned`` (U1 + D1, new wins), which reads back
only the target date's directory. ``daily_ingest`` is that filter plus
the upsert into a given history frame (the registry's q37).

Physical plan at scale: the three grid sources shuffle once on ``datetime``
(AQE coalesces the tiny ones), prices joins via the bucketed as-of (one
shuffle on a salted-enough integer bucket key), the 1-row generation mix is
a literal broadcast, and the upsert is one window over the key.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.operators.asof import asof_join
from big_data_project_datapipeline_spark.operators.merge import upsert_keep_last

_MIX_MARK = "__mix_present"
# SQL text, so the guard costs one parse rather than a py4j hop per call
_MIX_GUARD = (
    f"coalesce({_MIX_MARK}, cast(raise_error('merge_all_sources: "
    "generation-mix payload is empty — refusing to annihilate the merged "
    "grid of the day') AS boolean))"
)


def merge_all_sources(
    weather: DataFrame,
    air_quality: DataFrame,
    carbon: DataFrame,
    generation_mix: DataFrame,
    prices: DataFrame,
    ts_col: str = "datetime",
    price_target_date: dt.date | None = None,
) -> DataFrame:
    """J1→J2→J3(as-of)→J4 as one plan (reference raw_data.py:210-237).

    ``price_target_date`` replicates the reference's filter of prices to
    the target day BEFORE merge_asof (raw_data.py:203-206): without it a
    day-boundary grid row (00:00) could be stamped with the previous day's
    23:30 price that the reference leaves NaN.
    """
    merged = weather.join(air_quality, on=ts_col, how="full_outer").join(
        carbon, on=ts_col, how="full_outer"
    )
    if price_target_date is not None:
        prices = prices.filter(
            F.to_date(F.col(ts_col)) == F.lit(price_target_date)
        )
    merged = asof_join(
        merged, prices, on=ts_col, tolerance_seconds=1800, direction="nearest"
    )
    # J4: stamp the single-row snapshot onto every row. The mix row is O(1);
    # a broadcast nested-loop join keeps it plan-side with no shuffle.
    # An EMPTY mix payload (API returned no generationmix block) must not
    # cross-join the day down to zero rows and silently discard every
    # other source: the join is a left outer join on TRUE, so an empty
    # mix leaves the marker NULL, and the guard raises on the first grid
    # row — in the day's first Spark job, before any sink commits. A
    # count here would cost a job of its own.
    mix_payload = generation_mix.drop(ts_col).selectExpr("*", f"true AS {_MIX_MARK}")
    return (
        merged.join(F.broadcast(mix_payload), F.lit(True), "left")
        .filter(_MIX_GUARD)
        .drop(_MIX_MARK)
    )


def day_grid(
    merged: DataFrame, target_date: dt.date, ts_col: str = "datetime"
) -> DataFrame:
    """The target day's hourly grid rows of the merged sources
    (reference raw_data.py:306-316)."""
    return (
        merged.filter(F.to_date(F.col(ts_col)) == F.lit(target_date))  # F1
        .filter(F.minute(F.col(ts_col)) == 0)  # F2: hourly grid
    )


def daily_ingest(
    merged: DataFrame,
    history: DataFrame,
    target_date: dt.date,
    ts_col: str = "datetime",
) -> DataFrame:
    """Filter to the target day's hourly grid and upsert into history
    (reference raw_data.py:306-316,241-263). Returns the new history."""
    day = day_grid(merged, target_date, ts_col)
    return upsert_keep_last(history, day, keys=(ts_col,)).orderBy(ts_col)
