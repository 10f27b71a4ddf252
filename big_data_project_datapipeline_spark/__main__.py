"""Runnable job entry points — the reference's two cron scripts as CLI jobs.

The reference ships ``python raw_data.py`` (ingest) and
``python data_engineering.py`` (features) on GitHub-Actions cron
(raw_data_collection.yml:38, data_engineering.yml:40). A user switching to
this engine runs:

    python -m big_data_project_datapipeline_spark ingest \
        --payload-dir landed/2024-01-15 --store data/raw --date 2024-01-15
    python -m big_data_project_datapipeline_spark features \
        --store data/raw --out data/features

``ingest`` reads the day's LANDED payload files (one JSON document per
source API, as dumped by any fetcher — the HTTP step is out of engine
scope by design), normalizes them through the S1–S5 source ops, runs the
merge pipeline (J1–J4, F1/F2), upserts the day into a date-partitioned
parquet store (D1), then writes run metrics with the reference's
completeness check (K3, A2). ``features`` runs the
incremental feature pipeline (anti-join delta → X1–X14 + z-score) and
upserts the engineered delta into a feature table partitioned by
``date`` like the raw store, then writes the CSV export (K2).

Payload file conventions in ``--payload-dir``:
    weather.json, air_quality.json, generation_mix.json, prices.json and
    carbon_0.json, carbon_1.json, ... (one per fetched day, S3's multi-day
    union — reference raw_data.py:88-98).
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import json
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.quality import (
    completeness_warnings,
    observe_quality,
)
from big_data_project_datapipeline_spark.plans.features import (
    engineered_delta,
    feature_delta,
)
from big_data_project_datapipeline_spark.plans.ingest import (
    day_grid,
    merge_all_sources,
)
from big_data_project_datapipeline_spark.session import (
    class_archive,
    get_spark,
    jvm_peak_rss_mb,
)
from big_data_project_datapipeline_spark.sinks import (
    _recover,
    export_csv,
    merge_into_partitioned,
    write_metrics_json,
)
from big_data_project_datapipeline_spark.sources.json_payloads import (
    normalize_carbon_records,
    normalize_generation_mix,
    normalize_parallel_arrays,
    normalize_prices,
)

# Reference array-name → engine column-name mappings (raw_data.py:36-45,65-76).
WEATHER_MAPPING = {
    "temperature_2m": "temperature_C",
    "relative_humidity_2m": "humidity_%",
    "wind_speed_10m": "wind_speed_mps",
    "cloud_cover": "cloud_cover_%",
    "shortwave_radiation": "solar_radiation_Wm2",
}
AIR_QUALITY_MAPPING = {
    "pm10": "pm10",
    "pm2_5": "pm2_5",
    "carbon_monoxide": "co",
    "nitrogen_dioxide": "no2",
    "sulphur_dioxide": "so2",
    "ozone": "o3",
    "us_aqi": "aqi_us",
}
# The reference's completeness warnings (raw_data.py:330-339): more than
# this many of the day's rows missing the column.
COMPLETENESS_THRESHOLDS = {
    "missing_carbon_intensity_actual": 2,
    "missing_retail_price_£_per_kWh": 5,
}


def _read_json(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def run_ingest(
    spark: SparkSession, payload_dir: str, store: str, target_date: dt.date
) -> DataFrame:
    """Normalize the day's landed payloads, run the merge pipeline and
    upsert the day's grid rows into the date-partitioned store, whose
    merge reads back only the target date. The day's row and null counts
    ride the merge's own jobs as an observation. Returns the day's grid
    rows."""
    t0 = time.monotonic()
    weather = normalize_parallel_arrays(
        spark, _read_json(os.path.join(payload_dir, "weather.json")),
        "hourly", WEATHER_MAPPING,
    )
    air = normalize_parallel_arrays(
        spark, _read_json(os.path.join(payload_dir, "air_quality.json")),
        "hourly", AIR_QUALITY_MAPPING,
    )
    carbon = normalize_carbon_records(
        spark,
        [_read_json(p) for p in sorted(glob.glob(os.path.join(payload_dir, "carbon_*.json")))],
    )
    mix = normalize_generation_mix(
        spark, _read_json(os.path.join(payload_dir, "generation_mix.json"))
    )
    prices = normalize_prices(
        spark, _read_json(os.path.join(payload_dir, "prices.json"))
    )
    merged = merge_all_sources(
        weather, air, carbon, mix, prices, price_target_date=target_date
    )
    day = day_grid(merged, target_date).withColumn(
        "date", F.to_date("datetime")
    )
    checked = [k.removeprefix("missing_") for k in COMPLETENESS_THRESHOLDS]
    observed, obs = observe_quality(day, "ingest", checked)
    merge_into_partitioned(
        observed, store, keys=["datetime"], partition_col="date"
    )
    quality = obs.get
    write_metrics_json(
        {
            "last_run": dt.datetime.now(dt.timezone.utc).isoformat(),
            "target_date": str(target_date),
            "rows_ingested": quality["row_count"],
            **{k: quality[k] for k in COMPLETENESS_THRESHOLDS},
            "completeness_warnings": completeness_warnings(
                quality, COMPLETENESS_THRESHOLDS
            ),
            "ingest_seconds": round(time.monotonic() - t0, 3),
            "jvm_class_archive": class_archive(spark),
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        },
        os.path.join(store, "_metrics", "ingest.json"),
    )
    return day


def run_features(spark: SparkSession, store: str, out_dir: str) -> DataFrame:
    """Incremental feature run over the raw store; parquet + CSV outputs.

    Only the delta (raw keys the feature table lacks, by a null-safe anti
    join) is engineered and upserted into the table, which is partitioned
    by ``date`` like the raw store: a run rewrites only the dirs its delta
    touches, and an empty delta writes nothing. No delta key is in the
    table, so the sink's new-wins rule never meets a collision and every
    earlier row keeps its values (the reference's keep-first, D2).

    The delta is persisted for the run, so the empty check, the scaler
    fit and the sink's first job share one execution of it. The returned
    frame and the CSV export hold the table's columns without ``date``;
    the table's row count rides the export as an observation."""
    t0 = time.monotonic()
    raw = spark.read.parquet(store).drop("date")
    prev_path = os.path.join(out_dir, "features.parquet")
    # finish a crashed commit first: this read must see the previous
    # output, which such a crash can leave only in the backup dir
    _recover(prev_path)
    if os.path.exists(prev_path):
        previous = spark.read.parquet(prev_path)
    else:  # bootstrap: no previous output yet
        previous = raw.limit(0).select("datetime")
    schema = previous.schema
    delta = feature_delta(raw, previous).cache()
    try:
        engineered = engineered_delta(delta)
        if engineered is not None:
            dated = engineered.withColumn("date", F.to_date("datetime"))
            schema = dated.schema
            merge_into_partitioned(
                dated, prev_path, keys=["datetime"], partition_col="date"
            )
    finally:
        delta.unpersist(blocking=True)
    out = spark.read.schema(schema).parquet(prev_path).drop("date")
    observed, obs = observe_quality(out, "features", [])
    # one file (one header) in key order, as the reference's CSV
    export_csv(
        observed.coalesce(1).sortWithinPartitions("datetime"),
        os.path.join(out_dir, "engineered_data.csv"),
    )
    write_metrics_json(
        {
            "last_run": dt.datetime.now(dt.timezone.utc).isoformat(),
            "rows": obs.get["row_count"],
            "columns": len(out.columns),
            "features_seconds": round(time.monotonic() - t0, 3),
            "jvm_class_archive": class_archive(spark),
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        },
        os.path.join(out_dir, "_metrics", "features.json"),
    )
    return out


def run_fetch(
    payload_dir: str, target_date: dt.date, retries: int = 0, probe: bool = False
) -> None:
    """The reference's HTTP fetch step (raw_data.py:22-206): fetch the five
    payloads over the real requests transport and land them in the ingest
    CLI's payload-dir conventions. ``--probe`` also HEADs each endpoint and
    writes the monitoring metrics doc (raw_data.py:360-424). Driver-side
    only — no Spark session needed to fetch."""
    from big_data_project_datapipeline_spark.sources import fetch as FX

    transport = FX.requests_transport(retries=retries)
    payloads = FX.fetch_all(transport, target_date)
    FX.write_payload_dir(payloads, payload_dir)
    if probe:
        import requests

        def head(url: str, timeout: float | None) -> None:
            requests.head(url, timeout=timeout).raise_for_status()

        metrics = FX.probe_api_health(head)
        metrics["last_run"] = dt.datetime.now(dt.timezone.utc).isoformat()
        write_metrics_json(
            metrics, os.path.join(payload_dir, "_metrics", "api_health.json")
        )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="big_data_project_datapipeline_spark")
    sub = ap.add_subparsers(dest="job", required=True)
    fet = sub.add_parser("fetch", help="HTTP fetch → landed payload dir")
    fet.add_argument("--out", required=True, help="payload dir to land into")
    fet.add_argument("--date", required=True, help="YYYY-MM-DD target day")
    fet.add_argument("--retries", type=int, default=0)
    fet.add_argument("--probe", action="store_true", help="write API health metrics")
    ing = sub.add_parser("ingest", help="daily payload ingest → raw store")
    ing.add_argument("--payload-dir", required=True)
    ing.add_argument("--store", required=True)
    ing.add_argument("--date", required=True, help="YYYY-MM-DD target day")
    fea = sub.add_parser("features", help="incremental feature engineering")
    fea.add_argument("--store", required=True)
    fea.add_argument("--out", required=True)
    cmp_ = sub.add_parser("compact", help="small-file compaction of a parquet store")
    cmp_.add_argument("--path", required=True)
    cmp_.add_argument("--target-file-mb", type=int, default=128)
    prof = sub.add_parser("profile", help="key-skew profile of a parquet store")
    prof.add_argument("--path", required=True)
    prof.add_argument("--keys", required=True, help="comma-separated key columns")
    prof.add_argument("--top", type=int, default=10)
    ded = sub.add_parser(
        "dedup",
        help="incremental substring dedup of a docs dir against a gram index",
    )
    ded.add_argument("--docs-dir", required=True)
    ded.add_argument("--index-dir", required=True)
    ded.add_argument("--out", required=True)
    ded.add_argument("--checkpoint", required=True)
    ded.add_argument("--window", type=int, default=8)
    exp = sub.add_parser(
        "export",
        help="shard a docs parquet into n training files + manifest",
    )
    exp.add_argument("--docs", required=True, help="documents parquet path")
    exp.add_argument("--out", required=True, help="export root dir")
    exp.add_argument("--shards", type=int, default=8)
    exp.add_argument("--format", choices=["json", "parquet"], default="json")
    dele = sub.add_parser(
        "delete",
        help="purge rows matching a SQL predicate from a partitioned store",
    )
    dele.add_argument("--path", required=True)
    dele.add_argument("--where", required=True, help="SQL boolean predicate")
    dele.add_argument("--partition-col", required=True)
    args = ap.parse_args(argv)
    if args.job == "fetch":
        run_fetch(
            args.out, dt.date.fromisoformat(args.date), args.retries, args.probe
        )
        return
    spark = get_spark(app_name=f"pipeline-{args.job}")
    if args.job == "ingest":
        run_ingest(
            spark, args.payload_dir, args.store, dt.date.fromisoformat(args.date)
        )
    elif args.job == "compact":
        from big_data_project_datapipeline_spark.sinks import compact_parquet

        n = compact_parquet(
            spark, args.path, target_file_bytes=args.target_file_mb * 1024 * 1024
        )
        print(f"compacted {args.path} -> {n} file(s)")
    elif args.job == "profile":
        from big_data_project_datapipeline_spark.operators.skew import (
            key_skew_profile,
        )

        df = spark.read.parquet(args.path)
        key_skew_profile(df, args.keys.split(","), top_n=args.top).show(
            truncate=False
        )
    elif args.job == "dedup":
        from big_data_project_datapipeline_spark.streaming.dedup import (
            stream_substring_dedup,
        )

        try:
            q = stream_substring_dedup(
                spark,
                args.docs_dir,
                args.index_dir,
                args.out,
                args.checkpoint,
                window=args.window,
            )
        except AnalysisException as e:
            # a docs dir with no file yet (a first day before any
            # document lands) has no schema to infer: nothing to dedup,
            # and no index, output or checkpoint to start
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            print(f"no docs in {args.docs_dir}; nothing to dedup")
            return
        q.awaitTermination()
        print(f"deduped {args.docs_dir} -> {args.out} (index {args.index_dir})")
    elif args.job == "delete":
        from big_data_project_datapipeline_spark.sinks import delete_where

        n = delete_where(
            spark, args.path, F.expr(args.where), args.partition_col
        )
        print(f"deleted {n} row(s) from {args.path}")
    elif args.job == "export":
        from big_data_project_datapipeline_spark.sinks import (
            write_training_shards,
        )

        df = spark.read.parquet(args.docs)
        manifest = write_training_shards(
            df, args.out, n_shards=args.shards, fmt=args.format
        )
        print(
            f"exported {manifest['total_rows']} rows / "
            f"{manifest['total_tokens']} tokens -> "
            f"{args.shards} {args.format} shard(s) under {args.out}"
        )
    else:
        run_features(spark, args.store, args.out)


if __name__ == "__main__":
    main()
