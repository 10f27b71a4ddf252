"""End-to-end job CLI: landed payloads → ingest → partitioned store →
incremental features, two days, idempotent re-run."""

from __future__ import annotations

import datetime as dt
import json
import os

from big_data_project_datapipeline_spark.__main__ import run_features, run_ingest


def _write_payloads(day_dir, date: str, temps, carbon_hours=None):
    day_dir.mkdir(parents=True)
    if carbon_hours is None:
        carbon_hours = range(len(temps))
    hours = [f"{date}T{h:02d}:00" for h in range(len(temps))]
    (day_dir / "weather.json").write_text(json.dumps({
        "hourly": {
            "time": hours,
            "temperature_2m": temps,
            "relative_humidity_2m": [80.0] * len(temps),
            "wind_speed_10m": [3.0] * len(temps),
            "cloud_cover": [50.0] * len(temps),
            "shortwave_radiation": [0.0] * len(temps),
        }
    }))
    (day_dir / "air_quality.json").write_text(json.dumps({
        "hourly": {
            "time": hours,
            "pm10": [10.0] * len(temps),
            "pm2_5": [5.0] * len(temps),
            "carbon_monoxide": [200.0] * len(temps),
            "nitrogen_dioxide": [15.0] * len(temps),
            "sulphur_dioxide": [2.0] * len(temps),
            "ozone": [60.0] * len(temps),
            "us_aqi": [40.0] * len(temps),
        }
    }))
    (day_dir / "carbon_0.json").write_text(json.dumps({
        "data": [
            {"from": f"{date}T{h:02d}:00Z", "to": f"{date}T{h:02d}:30Z",
             "intensity": {"actual": 100.0 + h, "forecast": 99.0 + h,
                           "index": "moderate"}}
            for h in carbon_hours
        ]
    }))
    (day_dir / "generation_mix.json").write_text(json.dumps({
        "data": {"from": f"{date}T00:00Z", "generationmix": [
            {"fuel": "gas", "perc": 30.0}, {"fuel": "wind", "perc": 25.0},
            {"fuel": "solar", "perc": 5.0}, {"fuel": "nuclear", "perc": 15.0},
            {"fuel": "biomass", "perc": 5.0}, {"fuel": "imports", "perc": 10.0},
            {"fuel": "coal", "perc": 10.0},  # not whitelisted -> dropped
        ]}
    }))
    (day_dir / "prices.json").write_text(json.dumps({
        "results": [
            {"valid_from": f"{date}T{h:02d}:{m:02d}:00Z",
             "value_inc_vat": 25.0 + h}
            for h in range(len(temps)) for m in (0, 30)
        ]
    }))


def test_two_day_ingest_then_incremental_features(spark, tmp_path):
    store = str(tmp_path / "raw")
    out = str(tmp_path / "features")

    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0, 6.0, 7.0])
    day1 = run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    assert day1.count() == 3
    assert "uk_gen_coal_%" not in day1.columns  # whitelist applied
    assert day1.filter("`retail_price_£_per_kWh` IS NULL").count() == 0

    f1 = run_features(spark, store, out)
    assert f1.count() == 3
    assert "scaled_temperature_C" in f1.columns and "log_pm10" in f1.columns
    # snapshot NOW: returned frames are lazy over the store files and the
    # next run overwrites them
    v1 = {r["datetime"]: r["scaled_temperature_C"] for r in f1.collect()}

    # day 2 lands; ingest is additive, features process only the delta
    _write_payloads(tmp_path / "d2", "2024-01-16", [8.0, 9.0])
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))
    assert spark.read.parquet(store).count() == 5

    f2 = run_features(spark, store, out)
    assert f2.count() == 5
    # the metrics doc's row count comes from an observation on the write
    fm = json.loads((tmp_path / "features" / "_metrics" / "features.json").read_text())
    assert fm["rows"] == 5 and fm["columns"] == len(f2.columns)
    # rename-promote leaves no stale .tmp for glob consumers to pick up
    assert not (tmp_path / "features" / "features.parquet.tmp").exists()
    # day-1 rows unchanged by the incremental run (keep-first)
    v2 = {r["datetime"]: r["scaled_temperature_C"] for r in f2.collect()}
    for k, v in v1.items():
        assert v2[k] == v

    # idempotent re-run of the same day: store row count stable
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))
    assert spark.read.parquet(store).count() == 5

    metrics = json.loads((tmp_path / "raw" / "_metrics" / "ingest.json").read_text())
    assert metrics["rows_ingested"] == 2
    # both records say how the session's driver JVM got its classes
    assert metrics["jvm_class_archive"] == fm["jvm_class_archive"]
    assert metrics["jvm_class_archive"] in ("mapped", "recording", "off", "unknown")
    # and the driver JVM's peak resident set so far
    for record in (metrics, fm):
        assert record["jvm_peak_rss_mb"] > 0


def test_features_rerun_after_crashed_commit_matches_uninterrupted(
    spark, tmp_path
):
    """A features run killed inside its commit's swap window leaves the
    previous features.parquet only in the backup dir. The rerun must
    read it from there, not bootstrap from an empty previous table and
    re-fit the z-score over every raw row."""
    import shutil

    from big_data_project_datapipeline_spark import sinks

    store = str(tmp_path / "raw")
    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0, 6.0, 7.0])
    run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    clean, crashed = tmp_path / "clean", tmp_path / "crashed"
    run_features(spark, store, str(clean))
    _write_payloads(tmp_path / "d2", "2024-01-16", [8.0, 9.0])
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))

    shutil.copytree(clean, crashed)
    prev = str(crashed / "features.parquet")
    backup = prev + sinks._BACKUP
    os.makedirs(backup)
    os.rename(prev, os.path.join(backup, sinks._WHOLE_STORE))

    want = sorted(map(tuple, run_features(spark, store, str(clean)).collect()))
    got = sorted(map(tuple, run_features(spark, store, str(crashed)).collect()))
    assert len(got) == 5
    assert got == want


def test_features_fail_on_an_unreadable_previous_output(spark, tmp_path):
    """Only a missing features.parquet is a first run. One that exists
    but cannot be read must fail the run, not re-fit the z-score over
    every raw row and overwrite the table."""
    import pytest
    from pyspark.errors import AnalysisException

    store, out = str(tmp_path / "raw"), tmp_path / "features"
    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0, 6.0, 7.0])
    run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    prev = out / "features.parquet"
    prev.mkdir(parents=True)
    (prev / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException):
        run_features(spark, store, str(out))
    assert os.listdir(prev) == ["_SUCCESS"]
    assert not (out / "engineered_data.csv").exists()


def test_ingest_metrics_record_the_completeness_check(spark, tmp_path):
    """The reference's warning fires when more than 2 of the day's rows
    lack a carbon reading (raw_data.py:330-339)."""
    store = str(tmp_path / "raw")
    metrics = tmp_path / "raw" / "_metrics" / "ingest.json"
    _write_payloads(
        tmp_path / "d1", "2024-01-15", [5.0] * 6, carbon_hours=range(3)
    )
    run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    m = json.loads(metrics.read_text())
    assert m["rows_ingested"] == 6
    assert m["missing_carbon_intensity_actual"] == 3
    assert m["missing_retail_price_£_per_kWh"] == 0
    assert m["completeness_warnings"] == [
        "missing_carbon_intensity_actual: 3 missing > 2"
    ]

    _write_payloads(tmp_path / "d2", "2024-01-16", [5.0] * 6)
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))
    m = json.loads(metrics.read_text())
    assert m["missing_carbon_intensity_actual"] == 0
    assert m["completeness_warnings"] == []


def _tree_bytes(root) -> dict:
    """Every file under ``root`` (relative path → contents)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_ingest_refuses_an_empty_generation_mix_before_touching_the_store(
    spark, tmp_path
):
    """An empty generationmix block would cross-join the day's grid down
    to zero rows. The run raises instead, before anything live is
    touched: the store and its metrics doc stay byte-identical."""
    import pytest

    store = tmp_path / "raw"
    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0, 6.0, 7.0])
    run_ingest(spark, str(tmp_path / "d1"), str(store), dt.date(2024, 1, 15))
    before = _tree_bytes(store)
    assert "_metrics/ingest.json" in before
    _write_payloads(tmp_path / "d2", "2024-01-16", [8.0, 9.0])
    (tmp_path / "d2" / "generation_mix.json").write_text(json.dumps(
        {"data": {"from": "2024-01-16T00:00Z", "generationmix": []}}
    ))
    with pytest.raises(Exception, match="generation-mix payload is empty"):
        run_ingest(spark, str(tmp_path / "d2"), str(store), dt.date(2024, 1, 16))
    assert _tree_bytes(store) == before
    assert sorted(os.listdir(tmp_path)) == ["d1", "d2", "raw"]


def _cached_rdds(spark) -> set:
    """Ids of the RDDs marked persistent or holding cached blocks."""
    jsc = spark.sparkContext._jsc
    return set(jsc.getPersistentRDDs().keySet()) | {
        info.id() for info in jsc.sc().getRDDStorageInfo()
    }


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_a_second_day_runs_each_plan_once_and_releases_its_caches(
    spark, tmp_path
):
    """Job budgets for a second day (24 rows) of ingest and features,
    and no cached blocks left behind by either.

    Ingest runs the day's plan once: the job that names the touched
    partition fills a cache the write reads (14 jobs here, 25 when the
    write re-ran the plan). Features run their delta once: the empty
    check, the scaler fit and the write share one cached execution (13
    jobs here, 19 when each re-ran it). The budgets leave a little room
    for planner variation, not for a second execution of either plan."""
    import uuid

    store, out = str(tmp_path / "raw"), str(tmp_path / "features")
    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0 + h for h in range(24)])
    run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    run_features(spark, store, out)
    _write_payloads(tmp_path / "d2", "2024-01-16", [8.0 + h for h in range(24)])
    cached = _cached_rdds(spark)
    tag = uuid.uuid4().hex
    ingest_jobs = _jobs_of(
        spark, f"ingest-{tag}",
        lambda: run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16)),
    )
    assert _cached_rdds(spark) <= cached
    feature_jobs = _jobs_of(
        spark, f"features-{tag}", lambda: run_features(spark, store, out)
    )
    assert _cached_rdds(spark) <= cached
    assert ingest_jobs <= 15, ingest_jobs
    assert feature_jobs <= 15, feature_jobs
    fm = json.loads((tmp_path / "features" / "_metrics" / "features.json").read_text())
    assert fm["rows"] == 48


def test_ingest_reads_only_the_target_date(spark, tmp_path):
    """A day's ingest reads back only its own date partition: another
    date's files, even unreadable ones, are never scanned."""
    import glob

    store = str(tmp_path / "raw")
    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0, 6.0, 7.0])
    run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    for f in glob.glob(os.path.join(store, "date=2024-01-15", "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    _write_payloads(tmp_path / "d2", "2024-01-16", [8.0, 9.0])
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))
    metrics = json.loads((tmp_path / "raw" / "_metrics" / "ingest.json").read_text())
    assert metrics["rows_ingested"] == 2
    day2 = spark.read.parquet(os.path.join(store, "date=2024-01-16"))
    assert day2.count() == 2


def test_cli_compact(spark, tmp_path):
    import glob

    from big_data_project_datapipeline_spark.__main__ import main

    path = str(tmp_path / "store")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    assert len(glob.glob(path + "/*.parquet")) == 8
    main(["compact", "--path", path, "--target-file-mb", "512"])
    assert len(glob.glob(path + "/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 1000


def test_cli_dedup(spark, tmp_path):
    from big_data_project_datapipeline_spark.__main__ import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x")], "doc_id long, text string"
    ).write.parquet(docs)
    main(
        [
            "dedup",
            "--docs-dir", docs,
            "--index-dir", str(tmp_path / "index"),
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "cp"),
            "--window", "3",
        ]
    )
    got = {
        r["doc_id"]: r["text_dedup"]
        for r in spark.read.parquet(str(tmp_path / "out" / "docs_*")).collect()
    }
    assert got == {1: "a b c d", 2: "x"}


def test_cli_dedup_of_an_empty_docs_dir_is_a_no_op(spark, tmp_path):
    """The first day before any document lands: the docs dir exists but
    holds no file. The job returns normally and starts no index, output
    or checkpoint."""
    from big_data_project_datapipeline_spark.__main__ import main

    docs = tmp_path / "docs"
    docs.mkdir()
    main(
        [
            "dedup",
            "--docs-dir", str(docs),
            "--index-dir", str(tmp_path / "index"),
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "cp"),
        ]
    )
    assert sorted(p.name for p in tmp_path.iterdir()) == ["docs"]


def test_cli_export(spark, tmp_path):
    import json as _json

    from big_data_project_datapipeline_spark.__main__ import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i} w{i}") for i in range(20)], "doc_id long, text string"
    ).write.parquet(docs)
    out = str(tmp_path / "export")
    main(["export", "--docs", docs, "--out", out, "--shards", "4"])
    with open(out + "/_MANIFEST.json") as fh:
        m = _json.load(fh)
    assert m["total_rows"] == 20 and m["total_tokens"] == 40
    assert spark.read.json(out + "/data").count() == 20


def test_cli_delete(spark, tmp_path):
    from big_data_project_datapipeline_spark import sinks
    from big_data_project_datapipeline_spark.__main__ import main

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, i % 3, f"d{i % 2}") for i in range(12)],
        "id long, user long, day string",
    )
    sinks.merge_into_partitioned(df, path, keys=["id"], partition_col="day")
    main(["delete", "--path", path, "--where", "user = 1",
          "--partition-col", "day"])
    assert spark.read.parquet(path).filter("user = 1").count() == 0
    assert spark.read.parquet(path).count() == 8
