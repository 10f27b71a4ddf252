"""Structured Streaming equivalents of the reference's incremental
semantics (SURVEY.md §2.11).

The reference is a daily cron micro-batch with manual late-data handling
(re-fetch trailing days, filter back, keep-last upsert). These are the
streaming-native counterparts: watermarks bound state exactly like the
reference's N-day re-fetch window bounds recomputation, and
``trigger(availableNow=True)`` reproduces the cron-batch cadence on top of
the same streaming plan. The daily cron runs the substring dedup drain
(`streaming/dedup.py`); the ingest and feature twins
(`streaming/incremental.py`, `streaming/features.py`) run the batch
jobs' plans as file-source streams.
"""

from big_data_project_datapipeline_spark.streaming.dedup import (
    apply_substring_dedup_batch,
    stream_substring_dedup,
)
from big_data_project_datapipeline_spark.streaming.features import (
    apply_feature_batch,
    stream_feature_runs,
)
from big_data_project_datapipeline_spark.streaming.incremental import (
    hourly_grid_counts,
    sessionized_values,
    streaming_dedup_keep_first,
    run_available_now,
)

__all__ = [
    "apply_feature_batch",
    "apply_substring_dedup_batch",
    "hourly_grid_counts",
    "sessionized_values",
    "stream_feature_runs",
    "stream_substring_dedup",
    "streaming_dedup_keep_first",
    "run_available_now",
]
