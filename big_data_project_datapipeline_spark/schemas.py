"""Explicit StructTypes for every table the engine touches.

The reference leaves all schemas implicit (pandas dtype inference —
reference raw_data.py:36-45, data_engineering.py:15); we make them explicit
per FIXTURES.md so scans are deterministic and Catalyst can prune columns
against a declared schema. Column names keep the reference's exact spelling
(``humidity_%``, ``retail_price_£_per_kWh`` — legal in Parquet, backtickable
in SQL; reference raw_data.py:40,200).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-shaped source tables (FIXTURES.md §1; reference raw_data.py)
# ---------------------------------------------------------------------------

WEATHER = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("temperature_C", T.DoubleType(), True),
        T.StructField("humidity_%", T.DoubleType(), True),
        T.StructField("wind_speed_mps", T.DoubleType(), True),
        T.StructField("cloud_cover_%", T.DoubleType(), True),
        T.StructField("solar_radiation_Wm2", T.DoubleType(), True),
    ]
)

AIR_QUALITY = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("pm10", T.DoubleType(), True),
        T.StructField("pm2_5", T.DoubleType(), True),
        T.StructField("co", T.DoubleType(), True),
        T.StructField("no2", T.DoubleType(), True),
        T.StructField("so2", T.DoubleType(), True),
        T.StructField("o3", T.DoubleType(), True),
        T.StructField("aqi_us", T.DoubleType(), True),
    ]
)

CARBON_INTENSITY = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("carbon_intensity_actual", T.DoubleType(), True),
        T.StructField("carbon_intensity_forecast", T.DoubleType(), True),
        T.StructField("carbon_index", T.StringType(), True),
    ]
)

# Whitelisted fuels for the generation-mix pivot (reference raw_data.py:151).
GENERATION_FUELS = ["biomass", "imports", "gas", "nuclear", "solar", "wind"]

GENERATION_MIX = T.StructType(
    [T.StructField("datetime", T.TimestampType(), False)]
    + [T.StructField(f"uk_gen_{f}_%", T.DoubleType(), True) for f in GENERATION_FUELS]
)

# Pre-pivot form of the generation mix payload (list of {fuel, perc} records,
# reference raw_data.py:144-154).
GENERATION_MIX_RECORDS = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("fuel", T.StringType(), True),
        T.StructField("perc", T.DoubleType(), True),
    ]
)

PRICES = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("retail_price_£_per_kWh", T.DoubleType(), True),
    ]
)

# Raw pre-projection price record (reference raw_data.py:198-206).
PRICES_RAW = T.StructType(
    [
        T.StructField("valid_from", T.StringType(), True),
        T.StructField("valid_to", T.StringType(), True),
        T.StructField("value_exc_vat", T.DoubleType(), True),
        T.StructField("value_inc_vat", T.DoubleType(), True),
        T.StructField("payment_method", T.StringType(), True),
    ]
)

# Merged fact table, 23 columns (FIXTURES.md §2; reference raw_data.py:210-237).
RAW_DATA = T.StructType(
    list(WEATHER.fields)
    + [f for f in AIR_QUALITY.fields if f.name != "datetime"]
    + [f for f in CARBON_INTENSITY.fields if f.name != "datetime"]
    + [T.StructField("retail_price_£_per_kWh", T.DoubleType(), True)]
    + [f for f in GENERATION_MIX.fields if f.name != "datetime"]
)

# Monitoring metrics document (FIXTURES.md §4; reference raw_data.py:396-424).
METRICS = T.StructType(
    [
        T.StructField("total_apis", T.IntegerType(), False),
        T.StructField("last_run", T.StringType(), False),
        T.StructField("api_success_rate", T.DoubleType(), False),
        T.StructField("avg_api_response_time", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md) — schemas verified against the parquet
# footers at /root/testdata/sf0.001.
# ---------------------------------------------------------------------------

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def schema_drift(
    actual, expected, path: str = ""
) -> list[str]:
    """Structural diff of two StructTypes — the data-contract check an
    ingest job runs before trusting a new payload vintage (the driver's
    own testdata changed timestamp encodings between rounds; this is
    the guard that turns such a change into one clear message instead
    of a cast error deep in an operator).

    Returns human-readable drift strings: missing / unexpected columns
    and type changes, recursing into nested structs. Empty list ⇒
    contract satisfied (extra nullability looseness is tolerated).
    """
    from pyspark.sql import types as T

    drifts: list[str] = []
    a_fields = {f.name: f for f in actual.fields}
    e_fields = {f.name: f for f in expected.fields}
    for name, ef in e_fields.items():
        full = f"{path}{name}"
        if name not in a_fields:
            drifts.append(f"missing column: {full} ({ef.dataType.simpleString()})")
            continue
        at = a_fields[name].dataType
        et = ef.dataType
        if isinstance(et, T.StructType) and isinstance(at, T.StructType):
            drifts.extend(schema_drift(at, et, path=f"{full}."))
        elif at.simpleString() != et.simpleString():
            drifts.append(
                f"type change: {full} {et.simpleString()} → {at.simpleString()}"
            )
    for name in a_fields:
        if name not in e_fields:
            drifts.append(f"unexpected column: {path}{name}")
    return drifts


def assert_schema(df, expected) -> None:
    """Raise ValueError listing every drift (never just the first — ops
    needs the full contract report in one failure)."""
    drifts = schema_drift(df.schema, expected)
    if drifts:
        raise ValueError("schema drift:\n  " + "\n  ".join(drifts))


def quote_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier for SQL text: wrapped in
    backticks, each embedded backtick doubled, so any column name — the
    reference's ``humidity_%`` or one holding a backtick — parses as
    exactly one identifier, never as SQL."""
    return "`" + name.replace("`", "``") + "`"
