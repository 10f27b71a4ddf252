"""Payload normalizers S1–S5 (SURVEY.md §2.1) on fixture payloads shaped
exactly like the reference's API bodies (raw_data.py:22-206)."""

from __future__ import annotations

from big_data_project_datapipeline_spark.sources.json_payloads import (
    normalize_carbon_records,
    normalize_generation_mix,
    normalize_parallel_arrays,
    normalize_prices,
)


def test_parallel_arrays(spark):
    payload = {
        "hourly": {
            "time": ["2024-01-01T00:00", "2024-01-01T01:00"],
            "temperature_2m": [5.5, 6.0],
            "relative_humidity_2m": [80.0, 82.0],
        }
    }
    df = normalize_parallel_arrays(
        spark,
        payload,
        "hourly",
        {"temperature_2m": "temperature_C", "relative_humidity_2m": "humidity_%"},
    )
    rows = df.orderBy("datetime").collect()
    assert [r["temperature_C"] for r in rows] == [5.5, 6.0]
    assert rows[0]["datetime"].hour == 0 and rows[1]["humidity_%"] == 82.0


def test_carbon_records_skips_bad_and_coerces(spark):
    payloads = [
        {
            "data": [
                {"from": "2024-01-01T00:00", "intensity": {"actual": 100.0, "forecast": 90.0, "index": "low"}},
                {"from": None, "intensity": {"actual": 1.0, "forecast": 1.0, "index": "low"}},  # F6 skip
                {"from": "garbage", "intensity": {"actual": 2.0, "forecast": 2.0, "index": "low"}},  # P4 coerce→null→drop
            ]
        },
        {"data": [{"from": "2024-01-01T00:30", "intensity": {"actual": None, "forecast": 95.0, "index": "moderate"}}]},
    ]
    rows = normalize_carbon_records(spark, payloads).orderBy("datetime").collect()
    assert len(rows) == 2
    assert rows[0]["carbon_intensity_actual"] == 100.0
    assert rows[1]["carbon_intensity_actual"] is None  # nullable actual


def test_generation_mix_pivot_whitelist(spark):
    payload = {
        "data": {
            "from": "2024-01-01T00:00",
            "generationmix": [
                {"fuel": "gas", "perc": 30.0},
                {"fuel": "wind", "perc": 25.0},
                {"fuel": "coal", "perc": 1.0},     # not whitelisted → dropped
                {"fuel": "Solar", "perc": 5.0},    # case-normalized
            ],
        }
    }
    rows = normalize_generation_mix(spark, payload).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["uk_gen_gas_%"] == 30.0 and r["uk_gen_wind_%"] == 25.0
    assert r["uk_gen_solar_%"] == 5.0
    assert "uk_gen_coal_%" not in rows[0].asDict()
    assert r["uk_gen_nuclear_%"] is None  # whitelisted but absent → null col


def test_prices_projection_and_scaling(spark):
    payload = {
        "results": [
            {"valid_from": "2024-01-01T00:00:00Z", "value_inc_vat": 25.0, "value_exc_vat": 20.0},
            {"valid_from": "2024-01-01T00:30:00Z", "value_inc_vat": 30.0, "value_exc_vat": 24.0},
        ]
    }
    df = normalize_prices(spark, payload)
    assert df.columns == ["datetime", "retail_price_£_per_kWh"]  # P1 prune
    rows = df.orderBy("datetime").collect()
    assert rows[0]["retail_price_£_per_kWh"] == 0.25  # P2: /100


def test_normalizers_accept_integer_json_values(spark):
    # Real APIs emit JSON integers; DoubleType schemas must coerce, not
    # crash (review regression, reproduced on live-shaped payloads).
    from big_data_project_datapipeline_spark.sources.json_payloads import (
        normalize_carbon_records,
        normalize_generation_mix,
        normalize_parallel_arrays,
        normalize_prices,
    )

    w = normalize_parallel_arrays(
        spark,
        {"hourly": {"time": ["2024-01-01T00:00"], "temperature_2m": [7]}},
        "hourly",
        {"temperature_2m": "temperature_C"},
    )
    assert w.collect()[0].temperature_C == 7.0
    c = normalize_carbon_records(
        spark,
        [{"data": [{"from": "2024-01-01T00:00Z", "to": "2024-01-01T00:30Z",
                    "intensity": {"actual": 263, "forecast": 270,
                                  "index": "high"}}]}],
    )
    row = c.collect()[0]
    assert row.carbon_intensity_actual == 263.0
    g = normalize_generation_mix(
        spark,
        {"data": {"from": "2024-01-01T00:00Z",
                  "generationmix": [{"fuel": "wind", "perc": 40}]}},
    )
    assert g.collect()[0]["uk_gen_wind_%"] == 40.0
    p = normalize_prices(
        spark,
        {"results": [{"valid_from": "2024-01-01T00:00:00Z",
                      "value_inc_vat": 25}]},
    )
    assert p.collect()[0]['retail_price_£_per_kWh'] == 0.25


def test_payload_frames_and_the_bootstrap_index_are_local_relations(
    spark, tmp_path
):
    """Every normalizer output and the empty bootstrap gram index plans
    over a LocalRelation, never a Python-RDD scan (``LogicalRDD``): a
    job over them starts no Python worker, and their exact size lets
    joins broadcast them. Plan-only: building and analyzing them runs
    no Spark job."""
    import uuid

    from big_data_project_datapipeline_spark.streaming.dedup import (
        load_gram_index,
    )

    sc = spark.sparkContext
    group = f"plan-only-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        frames = {
            "weather": normalize_parallel_arrays(
                spark,
                {"hourly": {"time": ["2024-01-01T00:00"], "temperature_2m": [5]}},
                "hourly",
                {"temperature_2m": "temperature_C"},
            ),
            "carbon": normalize_carbon_records(
                spark,
                [{"data": [{"from": "2024-01-01T00:00Z",
                            "intensity": {"actual": 1, "index": "low"}}]}],
            ),
            "carbon_empty": normalize_carbon_records(spark, []),
            "mix": normalize_generation_mix(
                spark,
                {"data": {"from": "2024-01-01T00:00Z",
                          "generationmix": [{"fuel": "gas", "perc": 30.0}]}},
            ),
            "prices": normalize_prices(
                spark,
                {"results": [{"valid_from": "2024-01-01T00:00:00Z",
                              "value_inc_vat": 25.0}]},
            ),
            "gram_index": load_gram_index(spark, str(tmp_path / "no-index")),
        }
        plans = {
            name: df._jdf.queryExecution().analyzed().toString()
            for name, df in frames.items()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for name, plan in plans.items():
        assert "LogicalRDD" not in plan, (name, plan)
        assert "LocalRelation" in plan, (name, plan)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_registry_and_operator_driver_rows_are_local_relations(spark, tmp_path):
    """The driver-side row sets of the registry and the operators plan
    over a LocalRelation, never a Python-RDD scan (``LogicalRDD``): q37's
    empty history, q47's rate map, q52's dimension, q180's attribution
    rows, the KMV pair list and the empty results of the two KMV
    set-expression ops."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    import __spark_entry__ as E
    from big_data_project_datapipeline_spark.functions import sketches as SK
    from big_data_project_datapipeline_spark.operators.behavior import (
        markov_removal_attribution,
    )
    from big_data_project_datapipeline_spark.operators.caching import (
        release_caches,
    )
    from big_data_project_datapipeline_spark.session import local_frame
    from big_data_project_datapipeline_spark.tables import load_table

    types = ["view", "click", "purchase", "error", "signup", "view", "purchase"]
    t0 = dt.datetime(2024, 1, 15)
    events = pa.table(
        {
            "event_id": pa.array(range(len(types)), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(minutes=40 * i) for i in range(len(types))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 2 for i in range(len(types))], pa.int64()),
            "event_type": types,
            "value": [float(i) for i in range(len(types))],
            "props": ['{"k": 1}'] * len(types),
        }
    )
    sf = str(tmp_path)
    pq.write_table(events, f"{sf}/events.parquet")

    sketch = T.StructType(
        [T.StructField("event_type", T.StringType()),
         T.StructField("h", T.LongType())]
    )
    two = local_frame(
        spark,
        [{"event_type": g, "h": h} for g, h in [("a", 1), ("a", 2), ("b", 2)]],
        sketch,
    )
    one = two.filter("event_type = 'a'")
    # an int group column: the pair list takes its type, not one
    # inferred from the Python values (which would be long)
    ints = two.selectExpr(
        "CAST(ascii(event_type) AS INT) AS event_type", "h"
    )
    frames = {
        "q37_history": E.q37_ingest_pipeline(spark, sf),
        "q47_rates": E.q47_stratified_sample(spark, sf),
        "q52_dim": E.q52_salted_join(spark, sf),
        "q180_rows": markov_removal_attribution(
            load_table(spark, sf, "events"), conv_state="purchase"
        ),
        "kmv_pairs": SK.kmv_pair_overlap(two, "event_type", k=4),
        "kmv_int_pairs": SK.kmv_pair_overlap(ints, "event_type", k=4),
        "kmv_overlap_empty": SK.kmv_pair_overlap(one, "event_type", k=4),
        "kmv_difference_empty": SK.kmv_set_difference(one, "event_type", k=4),
    }
    plans = {
        name: df._jdf.queryExecution().analyzed().toString()
        for name, df in frames.items()
    }
    pairs = frames["kmv_pairs"].select("grp_a", "grp_b").collect()
    for df in frames.values():
        release_caches(df)
    for name, plan in plans.items():
        assert "LogicalRDD" not in plan, (name, plan)
        assert "LocalRelation" in plan, (name, plan)
    assert [tuple(r) for r in pairs] == [("a", "b")]
    assert frames["kmv_int_pairs"].schema["grp_a"].dataType == T.IntegerType()


def test_normalizers_refuse_a_boolean_for_a_number(spark):
    import pytest

    with pytest.raises(TypeError, match="JSON number"):
        normalize_prices(
            spark,
            {"results": [{"valid_from": "2024-01-01T00:00:00Z",
                          "value_inc_vat": True}]},
        )


def test_quote_ident_doubles_embedded_backticks(spark):
    from pyspark.sql import functions as F

    from big_data_project_datapipeline_spark.schemas import quote_ident

    assert quote_ident("humidity_%") == "`humidity_%`"
    assert quote_ident("a`b") == "`a``b`"
    assert quote_ident("x` + 1 --") == "`x`` + 1 --`"
    df = spark.createDataFrame([(1.0, 2.0)], "`a``b` double, `x`` + 1 --` double")
    # each quoted name resolves to exactly its own column, in the Column
    # API and in SQL text
    got = df.select(
        F.col(quote_ident("a`b")).alias("p"),
        F.expr(f"{quote_ident('x` + 1 --')} * 10").alias("q"),
    ).first()
    assert (got["p"], got["q"]) == (1.0, 20.0)
