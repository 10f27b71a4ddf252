"""Keep-last / keep-first upsert merge (dedup by key with explicit priority).

The reference relies on pandas concat *position* for its dedup semantics:
``drop_duplicates(subset=["datetime"], keep="last")`` after
``concat([existing, new])`` means "new data wins" (reference
raw_data.py:254-259, D1), and ``keep="first"`` after ``concat([prev, new])``
means "previous output wins" (reference data_engineering.py:123-126, D2).

Row position is meaningless in Spark's unordered model, so the priority is
made explicit: tag each side, then keep ``row_number() == 1`` over
``(key) ORDER BY priority DESC, tiebreak``. Never a bare ``dropDuplicates``
— its keeper is nondeterministic across runs/partitionings.

Scale: one shuffle on the merge key. On a date-partitioned sink only the
touched partition directories are read back and swapped
(``sinks.merge_into_partitioned``) — the reference rewrites the whole CSV
every day (raw_data.py:263).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.schemas import quote_ident

_PRIORITY = "__merge_priority"
_RN = "__merge_rn"


def _merge(
    low: DataFrame,
    high: DataFrame,
    keys: Sequence[str],
    tiebreak: Sequence[str],
) -> DataFrame:
    """Union low- and high-priority sides; per key keep one row, high wins."""
    out_cols = list(low.columns)
    for c in high.columns:
        if c not in out_cols:
            out_cols.append(c)
    tagged = low.withColumn(_PRIORITY, F.lit(0)).unionByName(
        high.withColumn(_PRIORITY, F.lit(1)), allowMissingColumns=True
    )
    # Deterministic even with INTRA-side duplicate keys: after priority
    # and the caller's tiebreak, fall back to every remaining column in
    # a fixed order — without it, two same-priority rows tie completely
    # and row_number picks whichever arrives first (partitioning-
    # dependent), the exact nondeterminism this module exists to forbid.
    from pyspark.sql import types as T

    orderable = (
        T.StringType, T.NumericType, T.TimestampType, T.TimestampNTZType,
        T.DateType, T.BooleanType, T.BinaryType,
    )
    fallback = [
        f.name
        for f in sorted(tagged.schema.fields, key=lambda f: f.name)
        if f.name not in keys and f.name not in tiebreak
        and f.name != _PRIORITY and isinstance(f.dataType, orderable)
    ]
    order = (
        [F.col(_PRIORITY).desc()]
        + [F.col(c).asc_nulls_last() for c in tiebreak]
        + [F.col(quote_ident(c)).asc_nulls_last() for c in fallback]
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .select(*out_cols)
    )


def upsert_keep_last(
    existing: DataFrame,
    new: DataFrame,
    keys: Sequence[str] = ("datetime",),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """D1: new rows overwrite same-key existing rows ("most recent wins")."""
    return _merge(existing, new, keys, tiebreak)


def upsert_keep_first(
    existing: DataFrame,
    new: DataFrame,
    keys: Sequence[str] = ("datetime",),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """D2: existing rows win over recomputed ones (idempotent re-run guard)."""
    return _merge(new, existing, keys, tiebreak)
