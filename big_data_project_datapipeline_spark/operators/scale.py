"""Two-pass z-score scaling with sklearn-exact semantics (SURVEY.md §2.10).

The reference runs ``StandardScaler().fit_transform(df[cols].fillna(0))``
(reference data_engineering.py:81-97). Three traps replicated here:

- sklearn normalizes by the **population** std (ddof=0) → ``stddev_pop``,
  not Spark's default sample ``stddev``;
- ``fillna(0)`` is applied **before** both fit and transform;
- the fit happens on whatever batch is passed in (the reference fits on the
  incremental delta only, data_engineering.py:118-121) — callers control
  the fit scope by what they pass.

Spark-first: pass 1 is a single ``agg`` producing 2·k scalars (one job,
map-side partial aggregation); pass 2 is pure column arithmetic folded into
whatever plan follows — no UDF, no Spark-ML pipeline, no extra shuffle.
sklearn additionally leaves a zero-variance column centred-but-undivided
(scale_ = 1 when std == 0); we replicate with a ``when`` guard.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zscore_scale(
    df: DataFrame,
    cols: Sequence[str],
    prefix: str = "scaled_",
    stats: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Append ``{prefix}{c}`` = (coalesce(c,0) − mean) / std_pop for each c.

    ``stats``: optional pre-computed {col: (mean, std_pop)} — pass the
    training batch's stats to transform a different frame (fit/transform
    split). When None, fits on ``df`` itself via one aggregate job.
    """
    present = [c for c in cols if c in df.columns]  # schema-drift tolerant
    if not present:
        return df
    if stats is None:
        stats = compute_stats(df, present)  # one aggregate job (shared fit)
    else:
        # caller-supplied stats may also be drift-tolerant: a column in
        # df but absent from the fit frame has no stats row — skip it
        # (symmetric with the df-side filter) instead of KeyError-ing
        # mid-plan
        present = [c for c in present if c in stats]
    out = df
    for c in present:
        mean, std = stats[c]
        mean = float(mean if mean is not None else 0.0)
        std = float(std if std is not None else 0.0)
        divisor = std if std > 0.0 else 1.0  # sklearn: zero-variance → scale_=1
        out = out.withColumn(
            f"{prefix}{c}",
            (F.coalesce(F.col(c).cast("double"), F.lit(0.0)) - F.lit(mean))
            / F.lit(divisor),
        )
    return out


def compute_stats(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[float, float]]:
    """Fit pass alone: {col: (mean, population std)} over coalesce(c, 0)."""
    present = [c for c in cols if c in df.columns]
    if not present:
        return {}
    filled = [F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c) for c in present]
    row = df.select(*filled).agg(
        *[F.avg(c).alias(f"m_{c}") for c in present],
        *[F.stddev_pop(c).alias(f"s_{c}") for c in present],
    ).first()
    return {c: (row[f"m_{c}"], row[f"s_{c}"]) for c in present}
