"""Temporal + cyclical calendar features (X1–X9, SURVEY.md §2.8).

Replicates ``create_temporal_features`` (reference data_engineering.py:31-47)
with its semantic quirks intact:

- ``day_of_week`` is **Monday=0..Sunday=6** (pandas ``dt.dayofweek``).
  Spark's ``dayofweek`` is Sunday=1 — we use ``weekday`` (Spark ≥3.5).
- ``week_of_year`` is ISO-8601 (pandas ``isocalendar().week`` ==
  Spark ``weekofyear``).
- ``is_night`` replicates the reference's quirky
  ``between(23,23) | between(0,6)`` → hours {23, 0..6}
  (reference data_engineering.py:40) — faithfully, not "fixed".
- all features assume UTC timestamps; the session TZ is pinned to UTC in
  ``session.get_spark`` so ``hour()`` etc. cannot shift.

Pure built-in expressions — constant folding turns ``2π/24`` into a literal,
and everything stays inside whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TWO_PI = 2.0 * math.pi


def day_of_week(ts: Column) -> Column:
    """Monday=0 .. Sunday=6 (pandas convention, reference :34)."""
    return F.weekday(ts)


def is_weekend(ts: Column) -> Column:
    return (F.weekday(ts) >= 5).cast("int")


def is_peak_hour(ts: Column) -> Column:
    """17:00–21:00 inclusive (reference :39)."""
    return F.hour(ts).between(17, 21).cast("int")


def is_night(ts: Column) -> Column:
    """Hours {23, 0..6} — the reference's ``between(23,23)`` quirk (:40)."""
    return ((F.hour(ts) == 23) | F.hour(ts).between(0, 6)).cast("int")


def add_temporal_features(df: DataFrame, ts_col: str = "datetime") -> DataFrame:
    """X1–X8: the 8 integer calendar features."""
    ts = F.col(ts_col)
    return df.withColumns(
        {
            "hour": F.hour(ts),
            "day_of_week": day_of_week(ts),
            "month": F.month(ts),
            "day_of_month": F.dayofmonth(ts),
            "week_of_year": F.weekofyear(ts),
            "is_weekend": is_weekend(ts),
            "is_peak_hour": is_peak_hour(ts),
            "is_night": is_night(ts),
        }
    )


def add_cyclical_features(df: DataFrame, ts_col: str = "datetime") -> DataFrame:
    """X9: sin/cos encodings of hour (period 24) and month (period 12)."""
    ts = F.col(ts_col)
    h = F.hour(ts).cast("double")
    m = F.month(ts).cast("double")
    return df.withColumns(
        {
            "hour_sin": F.sin(F.lit(TWO_PI) * h / F.lit(24.0)),
            "hour_cos": F.cos(F.lit(TWO_PI) * h / F.lit(24.0)),
            "month_sin": F.sin(F.lit(TWO_PI) * m / F.lit(12.0)),
            "month_cos": F.cos(F.lit(TWO_PI) * m / F.lit(12.0)),
        }
    )
