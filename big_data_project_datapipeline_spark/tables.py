"""Loaders for the driver testdata tables (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. These are plain
``spark.read.parquet`` scans — column pruning and predicate pushdown happen in
the queries that consume them (check with ``.explain``: ``PushedFilters`` /
``ReadSchema`` must reflect the query, not the full table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Read one testdata table.

    Timestamp normalization: generator vintages differ — TIMESTAMP(NANOS)
    (no native Spark type; with ``spark.sql.legacy.parquet.nanosAsLong``
    it arrives as epoch-nanos LONG and is converted via `ts div 1000` —
    exact, the generator emits whole microseconds) and TIMESTAMP_NTZ
    (micros, isAdjustedToUTC=false). Both are normalized to the session
    TIMESTAMP type (LTZ, session TZ pinned UTC, so wall-clock fields are
    identical to DuckDB's naive read of the same file) — every operator
    downstream then sees one timestamp semantics regardless of vintage.
    The confs are runtime-settable, so this also works on a
    driver-provided SparkSession.

    ``fan_out=True`` requests the unsplittable-input fan-out
    (:func:`_fan_out_unsplittable`) for consumers whose post-scan
    compute is heavy enough to amortize one extra exchange. Default
    OFF: an always-on fan-out is a net loss — a full-bench A/B
    (fan-out on vs off, 237 queries at sf0.1/local[32]) showed 75 s of
    additive exchange/AQE-replan tax spread over ~190 light queries
    against 37 s of wins concentrated in ~30 compute-amplified ones,
    and NO table for which winners outweigh losers. The winners opt in
    at their call sites.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # calendar features & oracle parity assume UTC rendering — a driver-
        # provided session may carry a different TZ (both runtime-settable)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001 — conf may be locked; reads then fail loudly
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(
                field.name, F.col(field.name).cast(T.TimestampType())
            )
    if fan_out:
        return _fan_out_unsplittable(spark, sf_dir, name, df)
    return df


# parquet (row_groups, rows) per (sf_dir, table): the row group is the
# atomic scan-split unit, so this is the table's TRUE maximum scan
# parallelism no matter how splits are configured. Footer-only read,
# cached per process.
_ROW_GROUPS: dict[tuple[str, str], tuple[int, int]] = {}


def _fan_out_unsplittable(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame
) -> DataFrame:
    """Input-skew remedy for physically unsplittable inputs (guide
    §2.5: "one huge unsplittable file — repartition immediately after
    the read"). A parquet file is splittable only at row-group
    granularity; the driver testdata ships ONE row group per table, so
    every scan — and everything Catalyst fuses into the scan stage
    (filters, projections, map-side partial aggregates, broadcast-join
    probes) — runs in ONE task regardless of core count or split conf.

    The fan-out is SCALE-ADAPTIVE, derived from the input's physical
    layout, not a local tuning constant: it fires only when the
    table's total row-group count is below the cluster's default
    parallelism. Any production-scale table has orders of magnitude
    more row groups than the cluster has cores, so there this is a
    provable no-op and scans keep their normal zero-shuffle shape.
    Round-robin keeps column pruning/filter pushdown intact (Catalyst
    pushes both below a Repartition node — PLAN_AUDIT's ReadSchema
    check stays green) and sort-before-repartition (on by default,
    SPARK-23207) keeps the row->partition assignment deterministic
    under task retry.

    OPT-IN (``load_table(..., fan_out=True)``): the extra exchange is
    one more AQE query stage — a full driver re-plan plus a cores-wide
    task wave — which a sub-second single-pass query never earns back.
    Only call sites whose per-row compute is heavy (text
    tokenization/shingling, vector math, multi-pass IRLS moments)
    request it; the A/B behind the per-query list lives in
    OPTIMIZATION_r13.md."""
    key = (sf_dir, name)
    if key not in _ROW_GROUPS:
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata
            _ROW_GROUPS[key] = (md.num_row_groups, md.num_rows)
        except Exception:  # noqa: BLE001 — unknown layout: assume splittable
            _ROW_GROUPS[key] = (1 << 30, 0)
    n_groups, n_rows = _ROW_GROUPS[key]
    cores = spark.sparkContext.defaultParallelism
    # second gate: a dimension table with a handful of rows gains
    # nothing from fan-out (< ~16 rows per task is pure scheduling
    # overhead) and usually broadcasts anyway.
    if n_groups >= cores or n_rows < cores * 16:
        return df
    return df.repartition(cores)
