"""Feature-engineering pipeline (reference data_engineering.py:100-132).

Incremental semantics: anti-join the raw table against the previous feature
output (only new keys are processed), derive ~32 features, union back, and
keep-first dedup as the idempotency guard. The scaler fits on the *delta
batch only* — a deliberate reference semantic (SURVEY.md §7.4 trap 6).

One lazy plan from raw scan to sink. :func:`engineered_delta` is the one
delta → features chain: :func:`incremental_feature_run` ends it in the
keep-first union, the daily job (``run_features``) in
``sinks.merge_into_partitioned`` over the date-partitioned feature table.
Three actions execute the delta: the empty check, the O(1) scaler-stats
aggregate (12 scalars to the driver, then folded back in as literals —
the Spark analog of broadcasting fitted parameters) and the tail's first
job. The chain persists nothing itself; the daily job persists the delta
it passes in, so all three read one cached execution.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from big_data_project_datapipeline_spark.functions.interact import (
    add_interaction_features,
    add_log_transforms,
)
from big_data_project_datapipeline_spark.functions.temporal import (
    add_cyclical_features,
    add_temporal_features,
)
from big_data_project_datapipeline_spark.operators.incremental import anti_join_delta
from big_data_project_datapipeline_spark.operators.merge import upsert_keep_first
from big_data_project_datapipeline_spark.operators.scale import zscore_scale

# Reference's 6 scale targets (data_engineering.py:83-90).
DEFAULT_SCALE_COLS = [
    "temperature_C",
    "wind_speed_mps",
    "humidity_%",
    "carbon_intensity_actual",
    "uk_gen_wind_%",
    "uk_gen_gas_%",
]


def engineer_features(
    delta: DataFrame,
    ts_col: str = "datetime",
    scale_cols: Sequence[str] = tuple(DEFAULT_SCALE_COLS),
    scale_stats: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """X1–X14 + z-score over one delta batch (fit-on-delta, ddof=0).

    ``scale_stats``: optional pre-fitted {col: (mean, std_pop)} forwarded to
    ``zscore_scale`` — a fit/transform split at pipeline level (e.g. fit on a
    training window, transform the delta; or supply order-independent
    decimal-exact moments for bit-reproducible output).
    """
    out = add_temporal_features(delta, ts_col)
    out = add_cyclical_features(out, ts_col)
    out = add_interaction_features(out)
    out = add_log_transforms(out)
    return zscore_scale(out, list(scale_cols), stats=scale_stats)


def feature_delta(
    raw: DataFrame, previous: DataFrame, ts_col: str = "datetime"
) -> DataFrame:
    """The raw rows whose key the previous feature table lacks (F5/J5)."""
    return anti_join_delta(raw, previous.select(ts_col), keys=(ts_col,))


def engineered_delta(
    delta: DataFrame,
    ts_col: str = "datetime",
    scale_cols: Sequence[str] = tuple(DEFAULT_SCALE_COLS),
    scale_stats: dict[str, tuple[float, float]] | None = None,
) -> DataFrame | None:
    """The engineered rows of ``delta`` (:func:`feature_delta`), or None
    when it is empty: the early exit (`isEmpty`, one cheap job —
    reference data_engineering.py:113-115) comes before the scaler fit."""
    if delta.isEmpty():
        return None
    return engineer_features(delta, ts_col, scale_cols, scale_stats)


def incremental_feature_run(
    raw: DataFrame,
    previous: DataFrame,
    ts_col: str = "datetime",
    scale_cols: Sequence[str] = tuple(DEFAULT_SCALE_COLS),
    scale_stats: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Full incremental run: delta → features → union/dedup (prev wins).

    Returns the new feature table, or ``previous`` unchanged when the
    delta is empty.
    """
    engineered = engineered_delta(
        feature_delta(raw, previous, ts_col), ts_col, scale_cols, scale_stats
    )
    if engineered is None:
        return previous
    return upsert_keep_first(previous, engineered, keys=(ts_col,)).orderBy(ts_col)
