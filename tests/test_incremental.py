"""Anti-join delta (F5/J5), end-to-end incremental feature run
(reference data_engineering.py:100-132)."""

from __future__ import annotations

import datetime as dt

from big_data_project_datapipeline_spark.operators.incremental import anti_join_delta
from big_data_project_datapipeline_spark.plans.features import incremental_feature_run

UTC = dt.timezone.utc


def ts(h):
    return dt.datetime(2024, 1, 1, h, tzinfo=UTC)


def test_anti_join_delta(spark):
    raw = spark.createDataFrame(
        [(ts(0), 1.0), (ts(1), 2.0), (ts(2), 3.0)], "datetime timestamp, v double"
    )
    prev = spark.createDataFrame([(ts(0),), (ts(1),)], "datetime timestamp")
    out = anti_join_delta(raw, prev)
    assert [r["datetime"].hour for r in out.collect()] == [2]


def test_incremental_feature_run_processes_only_delta(spark):
    raw = spark.createDataFrame(
        [(ts(h), float(h)) for h in range(4)], "datetime timestamp, temperature_C double"
    )
    first = incremental_feature_run(raw, raw.limit(0).select("datetime"))
    assert first.count() == 4
    assert "hour" in first.columns and "heating_demand" in first.columns

    # Re-run with the same raw: empty delta → previous returned unchanged.
    second = incremental_feature_run(raw, first)
    assert second is first or sorted(second.collect()) == sorted(first.collect())


def test_incremental_scaler_fits_on_delta_only(spark):
    """Scaled values of already-processed rows must NOT change when new rows
    arrive (reference trap: fit-on-delta, SURVEY.md §7.4.6)."""
    raw1 = spark.createDataFrame(
        [(ts(0), 10.0), (ts(1), 20.0)], "datetime timestamp, temperature_C double"
    )
    out1 = incremental_feature_run(raw1, raw1.limit(0).select("datetime"))
    v0_before = {r["datetime"].hour: r["scaled_temperature_C"] for r in out1.collect()}

    raw2 = raw1.union(
        spark.createDataFrame([(ts(2), 99.0)], "datetime timestamp, temperature_C double")
    )
    out2 = incremental_feature_run(raw2, out1)
    after = {r["datetime"].hour: r["scaled_temperature_C"] for r in out2.collect()}
    for k, v in v0_before.items():
        assert after[k] == v  # keep-first: old rows untouched
    assert after[2] == 0.0  # delta of one row → (99-99)/1


def test_anti_join_delta_null_keys_do_not_reaccumulate(spark):
    from big_data_project_datapipeline_spark.operators.incremental import (
        anti_join_delta,
    )

    prev = spark.createDataFrame([(None,), (1,)], "k long")
    new = spark.createDataFrame([(None, "a"), (1, "b"), (2, "c")],
                                "k long, v string")
    out = anti_join_delta(new, prev, keys=("k",)).collect()
    # pandas-isin semantics: the null key already in the sink matches,
    # so only the genuinely new key survives
    assert [(r.k, r.v) for r in out] == [(2, "c")]
