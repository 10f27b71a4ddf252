"""JSON payload layout normalizers (S1–S5, SURVEY.md §2.1).

Each function takes a parsed JSON payload (a Python dict — the body the
reference fetches at raw_data.py:22-206) or a DataFrame of raw records, and
returns a typed DataFrame. The shapes:

- S1/S2 *parallel arrays*: ``{"hourly": {"time": [...], "temperature_2m":
  [...]}}`` → zip columns row-wise (reference raw_data.py:36-45,65-76).
- S3 *record list with nulls*: ``{"data": [{"from": ts, "intensity":
  {"actual": ..}}]}`` → flatten nested structs, skip records missing the
  key, coerce bad timestamps to null (reference raw_data.py:114-131).
- S4 *pivot*: ``{"data": {"generationmix": [{"fuel": .., "perc": ..}]}}`` →
  one wide row, whitelist of 6 fuels (reference raw_data.py:144-154).
- S5 *rates*: ``value_inc_vat/100`` (reference raw_data.py:195-206). The
  catalog part (pick the AGILE product, parse its tariff code out of a
  URL) is driver-side, in ``sources/fetch.discover_agile_tariff``.

Each payload's rows enter the plan through :func:`session.local_frame`, as
a ``LocalRelation``: a job over a normalized frame runs no Python worker,
and the frame's exact size estimate lets joins against it broadcast. At
100 TB the same normalizers apply unchanged to landed JSON files: swap
``local_frame(spark, payload_rows, schema)`` for
``spark.read.schema(schema).json(path)`` — the column expressions are
identical.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_project_datapipeline_spark import schemas
from big_data_project_datapipeline_spark.operators.pivot import pivot_records
from big_data_project_datapipeline_spark.session import local_frame


def _number(x: Any) -> Any:
    """A JSON value bound for a double column. JSON integers pass (Arrow
    casts them); a JSON boolean is refused rather than cast to 1.0."""
    if isinstance(x, bool):
        raise TypeError(f"expected a JSON number, got {x!r}")
    return x


def normalize_parallel_arrays(
    spark: SparkSession,
    payload: dict[str, Any],
    section: str,
    mapping: dict[str, str],
    ts_key: str = "time",
    ts_col: str = "datetime",
) -> DataFrame:
    """S1/S2: parallel-array JSON → typed rows.

    ``mapping``: payload array name → output column name, e.g.
    ``{"temperature_2m": "temperature_C"}`` (reference raw_data.py:36-45).
    """
    block = payload.get(section) or {}
    times = block.get(ts_key) or []
    arrays = {out: (block.get(src) or []) for src, out in mapping.items()}
    rows = [
        {
            ts_col: t,
            **{c: _number(arr[i]) for c, arr in arrays.items() if i < len(arr)},
        }
        for i, t in enumerate(times)
    ]
    schema = T.StructType(
        [T.StructField(ts_col, T.StringType(), True)]
        + [T.StructField(c, T.DoubleType(), True) for c in arrays]
    )
    df = local_frame(spark, rows, schema)
    # Lenient cast: malformed stamps → null (pandas errors="coerce", P4).
    return df.withColumn(ts_col, F.try_to_timestamp(F.col(ts_col)))


# Nested carbon-intensity record shape (reference raw_data.py:114-128).
CARBON_RECORD = T.StructType(
    [
        T.StructField("from", T.StringType(), True),
        T.StructField("to", T.StringType(), True),
        T.StructField(
            "intensity",
            T.StructType(
                [
                    T.StructField("actual", T.DoubleType(), True),
                    T.StructField("forecast", T.DoubleType(), True),
                    T.StructField("index", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


def lenient_iso_timestamp(col: "F.Column") -> "F.Column":
    """pandas-``to_datetime``-like leniency (reference raw_data.py:129-131,
    144) for the APIs' ISO variants: second or minute precision, with or
    without a trailing zone. Unparseable → NULL (P4), never an ANSI error.
    Spark's default parser accepts second-precision and zone-less
    minute-precision but NOT ``2024-01-15T00:00Z`` — the carbon/generation
    APIs' actual format."""
    return F.coalesce(
        F.try_to_timestamp(col),
        F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mmX")),
    )


def normalize_carbon_records(
    spark: SparkSession, payloads: list[dict[str, Any]]
) -> DataFrame:
    """S3: union of per-day record-list payloads → flat typed rows.
    Skip-record guard (``from`` missing → drop, reference
    raw_data.py:116-117, F6) and coerce-to-null timestamp cast
    (:129-131, P4) as column predicates, not Python loops."""
    records = []
    for p in payloads:
        for r in p.get("data") or []:
            inten = r.get("intensity") or {}
            nums = {k: _number(inten.get(k)) for k in ("actual", "forecast")}
            records.append({**r, "intensity": {**inten, **nums}})
    return (
        local_frame(spark, records, CARBON_RECORD)
        .filter(F.col("from").isNotNull() & (F.col("from") != ""))
        .select(
            lenient_iso_timestamp(F.col("from")).alias("datetime"),  # ANSI-safe coerce-to-null
            F.col("intensity.actual").alias("carbon_intensity_actual"),
            F.col("intensity.forecast").alias("carbon_intensity_forecast"),
            F.col("intensity.index").alias("carbon_index"),
        )
        .filter(F.col("datetime").isNotNull())
    )


def normalize_generation_mix(
    spark: SparkSession, payload: dict[str, Any]
) -> DataFrame:
    """S4: list of {fuel, perc} → one wide whitelisted row (pivot).

    ``lower().replace(" ","_")`` on fuel names (reference raw_data.py:149)
    → ``lower`` + ``regexp_replace``; whitelist membership (:151) → pivot
    value list (non-listed fuels drop out of the explicit pivot values).
    """
    data = payload.get("data") or {}
    ts = data.get("from")
    mix = data.get("generationmix") or []
    schema = T.StructType(
        [
            T.StructField("fuel", T.StringType(), True),
            T.StructField("perc", T.DoubleType(), True),
        ]
    )
    rows = [{"fuel": r.get("fuel"), "perc": _number(r.get("perc"))} for r in mix]
    df = local_frame(spark, rows, schema).withColumn(
        "datetime", lenient_iso_timestamp(F.lit(ts))
    )
    df = df.withColumn("fuel", F.regexp_replace(F.lower("fuel"), " ", "_"))
    return pivot_records(
        df,
        keys=["datetime"],
        pivot_col="fuel",
        values=schemas.GENERATION_FUELS,
        value_col="perc",
        prefix="uk_gen_",
        suffix="_%",
    )


def normalize_prices(
    spark: SparkSession, payload: dict[str, Any]
) -> DataFrame:
    """S5 (rates part): half-hourly tariff records → (datetime, price).

    ``value_inc_vat / 100`` (reference raw_data.py:200, P2) then prune to
    2 columns (:206, P1).
    """
    results = payload.get("results") or []
    rows = [
        {"valid_from": r.get("valid_from"), "value_inc_vat": _number(r.get("value_inc_vat"))}
        for r in results
    ]
    df = local_frame(
        spark,
        rows,
        T.StructType(
            [
                T.StructField("valid_from", T.StringType(), True),
                T.StructField("value_inc_vat", T.DoubleType(), True),
            ]
        ),
    )
    return df.select(
        F.try_to_timestamp(F.col("valid_from")).alias("datetime"),
        (F.col("value_inc_vat") / F.lit(100.0)).alias("retail_price_£_per_kWh"),
    )
