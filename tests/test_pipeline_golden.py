"""Golden-output tests for the end-to-end feature pipeline (SURVEY.md
§5.2.3) — the engine-side analog of DVC's md5 pinning — plus quality
metrics (A2)."""

from __future__ import annotations

import datetime as dt

from big_data_project_datapipeline_spark.functions.quality import (
    completeness_warnings,
    observe_quality,
)
from big_data_project_datapipeline_spark.plans.features import incremental_feature_run
from oracles import content_hash

UTC = dt.timezone.utc


def _raw(spark):
    rows = [
        (dt.datetime(2024, 1, 1, h, tzinfo=UTC), float(h), 50.0 + h, None if h == 3 else 100.0 + h)
        for h in range(24)
    ]
    return spark.createDataFrame(
        rows,
        "datetime timestamp, temperature_C double, `humidity_%` double, carbon_intensity_actual double",
    )


def test_feature_pipeline_golden_hash(spark):
    """Fixed input → pinned content hash. A change to any feature formula
    (weekday convention, is_night quirk, ddof, fillna order...) breaks this."""
    out = incremental_feature_run(_raw(spark), _raw(spark).limit(0).select("datetime"))
    assert out.count() == 24
    # 4 input + 12 temporal/cyclical + 2 interaction (only temperature-based
    # ones apply to this schema) + 3 scaled (present ∩ DEFAULT_SCALE_COLS)
    assert len(out.columns) == 21
    golden = content_hash(out)
    assert golden == "892f2f0eb2f5d04f", golden


def test_feature_pipeline_idempotent_hash(spark):
    raw = _raw(spark)
    once = incremental_feature_run(raw, raw.limit(0).select("datetime"))
    twice = incremental_feature_run(raw, once)
    assert content_hash(once) == content_hash(twice)


def test_observe_rides_the_action(spark):
    df, obs = observe_quality(_raw(spark), "q", ["carbon_intensity_actual"])
    df.write.mode("overwrite").format("noop").save()  # the action the metrics ride
    assert obs.get["row_count"] == 24
    assert obs.get["missing_carbon_intensity_actual"] == 1


def test_completeness_warnings_thresholds():
    warns = completeness_warnings(
        {"missing_carbon": 3, "missing_prices": 2},
        {"missing_carbon": 2, "missing_prices": 5},
    )
    assert warns == ["missing_carbon: 3 missing > 2"]
