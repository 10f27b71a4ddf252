"""Structured Streaming in the daily cron (SURVEY.md §2.11).

The daily cron's corpus path is a ``trigger(availableNow=True)`` drain of
the substring-dedup stream (`streaming/dedup.py`): each tick scrubs the
day's document batch against the persisted gram index, folds its grams
in and compacts the index once it passes a fixed shard count. The ingest
and feature jobs are scheduled batch jobs (``__main__``).
"""

from big_data_project_datapipeline_spark.streaming.dedup import (
    apply_substring_dedup_batch,
    stream_substring_dedup,
)

__all__ = [
    "apply_substring_dedup_batch",
    "stream_substring_dedup",
]
