"""Incremental-processing primitive: the anti-join delta.

The reference's incremental core is ``raw[~raw.datetime.isin(prev.datetime)]``
(reference data_engineering.py:107, F5/J5). Its existence-guarded bootstrap
(raw_data.py:245,266-269 and data_engineering.py:23-28, S7) lives in the
jobs: ``sinks.merge_into_partitioned`` creates a missing store, and
``run_features`` starts from an empty previous table only when none exists.

Spark-first design: the delta is a ``left_anti`` join — one shuffle on the
key (or a broadcast of the previous side's keys when they are small),
map-side combinable. Both sides are still read whole, as the reference
re-reads its whole history file every run: no partition filter prunes
either side to the trailing dates yet.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.schemas import quote_ident


def anti_join_delta(
    new: DataFrame,
    previous: DataFrame,
    keys: Sequence[str] = ("datetime",),
) -> DataFrame:
    """Rows of ``new`` whose key is absent from ``previous`` (F5/J5).

    NULL-SAFE on the keys (eqNullSafe join condition): a plain left_anti
    equi-join never matches null keys, so a null-keyed row that already
    landed in the sink would re-survive the anti join on EVERY later run
    and duplicate monotonically. pandas ``isin`` — the
    reference semantics — matches NaT to NaT, which eqNullSafe mirrors.
    """
    # SQL text: one parse per expression list, not a py4j hop per Column
    prev = previous.selectExpr(
        *[f"{quote_ident(k)} AS {quote_ident('__prev_' + k)}" for k in keys]
    ).dropDuplicates()
    cond = " AND ".join(
        f"{quote_ident(k)} <=> {quote_ident('__prev_' + k)}" for k in keys
    )
    return new.join(prev, on=F.expr(cond), how="left_anti")
