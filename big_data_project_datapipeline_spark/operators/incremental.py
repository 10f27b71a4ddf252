"""Incremental-processing primitives: anti-join delta + mergeable aggregate state.

The reference's incremental core is ``raw[~raw.datetime.isin(prev.datetime)]``
(reference data_engineering.py:107, F5/J5). Its existence-guarded bootstrap
(raw_data.py:245,266-269 and data_engineering.py:23-28, S7) lives in the
jobs: ``sinks.merge_into_partitioned`` creates a missing store, and
``run_features`` starts from an empty previous table only when none exists.

Spark-first design: the delta is a ``left_anti`` join — one shuffle on the
key (or a broadcast of the previous side's keys when they are small),
map-side combinable. Both sides are still read whole, as the reference
re-reads its whole history file every run: the feature table is not
partitioned, so no partition filter can prune the previous side to the
trailing dates yet.
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
    and duplicate monotonically (review fix). pandas ``isin`` — the
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


AGG_STATE_COLS = ["n", "sum_dec", "vmin", "vmax", "users_hll"]


def aggregate_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    distinct_col: str | None = None,
) -> DataFrame:
    """Mergeable per-key aggregate STATE — the incremental
    materialized-view pattern: instead of recomputing a summary over
    100 TB of history each day, keep (count, decimal sum, min, max, HLL
    sketch) per key and fold each new partition's state in with
    ``merge_aggregate_state``. Every component is associative and
    commutative: decimal sums are exact (so merge order can't change a
    bit), min/max are lattice joins, and the HLL sketch is the
    classic mergeable distinct-count summary.
    """
    dec = F.col(value_col).cast("decimal(28,6)")
    aggs = [
        F.count(value_col).alias("n"),
        F.sum(dec).alias("sum_dec"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    ]
    if distinct_col:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("users_hll"))
    return df.groupBy(*keys).agg(*aggs)


def merge_aggregate_state(
    prev: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a new partition's state into the running state: one groupBy
    over the UNION of the two O(keys) frames — never touches raw rows.
    """
    both = prev.unionByName(new, allowMissingColumns=True)
    aggs = [
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    ]
    if "users_hll" in both.columns:
        aggs.append(F.hll_union_agg("users_hll").alias("users_hll"))
    return both.groupBy(*keys).agg(*aggs)


def read_aggregate_state(state: DataFrame) -> DataFrame:
    """Materialize user-facing metrics from the state: mean from the
    exact decimal sum, distinct estimate from the sketch."""
    out = state.select(
        *[c for c in state.columns if c != "users_hll"],
        (F.col("sum_dec").cast("double") / F.col("n")).alias("mean"),
        *(
            [F.hll_sketch_estimate("users_hll").alias("approx_distinct")]
            if "users_hll" in state.columns
            else []
        ),
    )
    return out
