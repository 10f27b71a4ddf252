"""Streaming twin of the feature-engineering job.

The reference chains its two cron jobs with a ``workflow_run`` trigger
(reference .github/workflows/data_engineering.yml:4-7): whenever the
ingest job lands new raw data, the feature job runs incrementally
against the previous feature store. This module is that trigger chain
on Spark's runtime, mirroring the ingest twin
(`streaming/incremental.stream_carbon_payloads`): a file-source stream
over the raw store's parquet + ``foreachBatch`` running the SAME
``incremental_feature_run`` plan as the batch CLI — one feature
definition, two runtimes.

Exactly-once shape: the file-source checkpoint tracks which raw files
each micro-batch consumed, so a drain per cron tick feeds every landed
file into exactly one feature run. Replay is additionally harmless at
the ROW level — ``incremental_feature_run`` anti-joins the batch
against the previous feature keys, so rows re-surfaced by a partition
rewrite (``merge_into_partitioned`` swaps in a touched partition's
directory with new files, and the file stream reads them as "new"
files) are dropped before any feature work. The store update itself is
the batch job's staged swap (`sinks.promote_overwrite`), so readers
never see a half-written feature table.

Scale note: each micro-batch shuffles only on the feature key
(anti-join + keep-first dedup); the feature store side of both joins
should be partition-pruned to the trailing window at 100 TB — the
stream processes deltas, never the history.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from big_data_project_datapipeline_spark.plans.features import (
    incremental_feature_run,
)
from big_data_project_datapipeline_spark.sinks import _recover, promote_overwrite


def apply_feature_batch(
    batch_df: DataFrame, features_path: str, ts_col: str = "datetime"
) -> None:
    """One incremental feature run over one micro-batch of raw rows —
    the ``foreachBatch`` body, also callable directly on a batch frame
    (the stream≡batch equivalence the tests pin). Bootstraps from an
    empty previous frame when the feature store doesn't exist yet (the
    S7 existence guard)."""
    spark = batch_df.sparkSession
    if "date" in batch_df.columns:  # partition column of the raw store
        batch_df = batch_df.drop("date")
    # finish a crashed commit first: this read must see the previous
    # output, which such a crash can leave only in the backup dir
    _recover(features_path)
    try:
        previous = spark.read.parquet(features_path)
    except AnalysisException:  # bootstrap run
        previous = batch_df.limit(0).select(ts_col)
    features = incremental_feature_run(batch_df, previous, ts_col=ts_col)
    promote_overwrite(features, features_path)


def stream_feature_runs(
    spark: SparkSession,
    raw_store: str,
    features_path: str,
    checkpoint_dir: str,
    ts_col: str = "datetime",
    query_name: str = "engine_stream_features",
) -> StreamingQuery:
    """Start an availableNow drain: every raw parquet file not yet seen
    by the checkpoint feeds one incremental feature run into
    ``features_path``. Call once per cron tick for the reference's
    workflow_run cadence, or with a processing-time trigger for a
    continuously maintained feature store."""
    raw_schema = spark.read.parquet(raw_store).schema
    stream = spark.readStream.schema(raw_schema).parquet(raw_store)
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, _id: apply_feature_batch(
                batch_df, features_path, ts_col
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
