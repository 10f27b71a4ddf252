"""Incremental exact-substring dedup across cron ticks.

At 100 TB you cannot re-run corpus-wide dedup (q99) on every arrival —
production pipelines dedup each incoming BATCH against a persistent
index of every window-gram ever seen, then fold the batch's new grams
into the index. This module is that pattern on Spark's runtime,
composing the q99 machinery (`functions/dedup.exact_substring_dedup`
semantics) with a file stream's exactly-once story:

- semantics: FIRST ARRIVAL WINS. A gram already in the index scrubs
  every occurrence in the new batch; within a batch, the minimal
  (doc_id, pos) occurrence survives (the q99 rule). When doc ids are
  assigned in arrival order this reproduces the global q99 result on
  the union exactly — the equivalence the tests pin.
- state: the gram index is a directory of per-batch parquet shards
  (``grams_<batch_id>``); deduped docs land beside it as
  ``docs_<batch_id>``. Each tick commits both through
  :func:`sinks._commit` in names mode, so a crashed-and-replayed batch
  swaps its own shard in instead of appending duplicates, and a crash
  mid-commit is undone by :func:`sinks._recover` at the next tick.
- scale: the per-batch work is the q99 budget (map-only window explode,
  map-side-combinable groupBy(gram), gram-keyed joins); the index join
  is one equi-join on the gram key. The index itself is the large
  state — O(distinct grams) rows of one string column. A tick that
  finds more than ``_MAX_SHARDS`` shards below its batch id first
  merges them into one (:func:`compact_gram_index`), so the index
  never holds more than ``_MAX_SHARDS + 1`` shards.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from big_data_project_datapipeline_spark.functions.dedup import (
    scrub_marked_occurrences,
    window_gram_firsts,
)
from big_data_project_datapipeline_spark.session import local_frame
from big_data_project_datapipeline_spark.sinks import _commit, _recover

# shards below a tick's batch id that trigger a compaction at its entry
_MAX_SHARDS = 8


def _shard_ids(index_dir: str) -> list[int]:
    """Batch id of every ``grams_<id>`` shard in ``index_dir``, sorted.
    Local-FS directory listing; an object-store deployment swaps this
    for the FileSystem API listing."""
    try:
        names = os.listdir(index_dir)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[len("grams_"):]) for n in names if n.startswith("grams_")
    )


def load_gram_index(
    spark: SparkSession, index_dir: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """Distinct union of every gram shard; empty frame on bootstrap.

    ``exclude_batch_id`` skips that batch's OWN shard — a replayed
    batch must dedup against the pre-batch state, not against the grams
    it wrote on the crashed attempt (it would otherwise scrub itself)."""
    paths = [
        os.path.join(index_dir, f"grams_{i}")
        for i in _shard_ids(index_dir)
        if i != exclude_batch_id
    ]
    empty = T.StructType([T.StructField("w", T.StringType())])
    if not paths:
        return local_frame(spark, [], empty)
    try:
        return spark.read.parquet(*paths).select("w").distinct()
    except AnalysisException:
        return local_frame(spark, [], empty)


def compact_gram_index(
    spark: SparkSession, index_dir: str, upto_batch_id: int
) -> int:
    """Merge every gram shard with batch id < ``upto_batch_id`` into ONE
    distinct-gram shard, bounding the fold's union cost at O(1 merged +
    recent shards) instead of O(ticks). Ticks write their full
    distinct-gram set (simple, replay-idempotent), so grams repeat
    across shards; this reclaims that. Shards >= ``upto_batch_id`` are
    untouched, so a batch that replays still finds the pre-batch state
    and still excludes its own shard.

    One names-mode :func:`sinks._commit` whose names are the source
    shards: the merged shard is staged under the largest source's name
    and swapped in, and the other sources have no staged twin, so the
    swap removes them. It swaps only if the staged shard's row count
    equals the sources' distinct count; otherwise it raises with the
    sources untouched. A crash before the merged shard is in place
    recovers the sources. A crash after it can leave some sources
    restored next to it: a superset with duplicates, which
    :func:`load_gram_index` takes ``distinct`` over and the next
    compaction absorbs. Returns the number of shards merged (0 =
    nothing to do)."""
    _recover(index_dir)
    names = [
        f"grams_{i}" for i in _shard_ids(index_dir) if i < upto_batch_id
    ]
    if len(names) < 2:
        return 0
    paths = [os.path.join(index_dir, n) for n in names]
    merged = spark.read.parquet(*paths).select("w").distinct()
    n_src = merged.count()

    def stage(staging: str) -> None:
        shard = os.path.join(staging, names[-1])
        merged.write.parquet(shard)
        n_out = spark.read.parquet(shard).count()
        if n_out != n_src:
            raise RuntimeError(
                f"compact_gram_index: merged shard row count {n_out} != "
                f"source distinct count {n_src}; aborted, sources kept"
            )

    _commit(index_dir, stage, names)
    return len(names)


def _commit_shard(root: str, name: str, df: DataFrame) -> None:
    """Write ``df`` as the parquet dir ``root/name``, swapped in whole."""
    _commit(
        root, lambda staging: df.write.parquet(os.path.join(staging, name)), [name]
    )


def apply_substring_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> None:
    """One incremental dedup tick: scrub ``batch_df`` against the gram
    index + its own internal repeats, land the deduped docs, fold the
    batch's grams into the index. Also callable directly on a batch
    frame (the stream ≡ batch equivalence the tests pin).

    Structured Streaming starts batch ``b`` only after batch ``b-1``'s
    commit is logged, so every shard below ``b`` is committed: the tick
    compacts them when they number more than ``_MAX_SHARDS``."""
    spark = batch_df.sparkSession
    _recover(index_dir)
    _recover(out_dir)
    if sum(i < batch_id for i in _shard_ids(index_dir)) > _MAX_SHARDS:
        compact_gram_index(spark, index_dir, batch_id)
    seen = load_gram_index(spark, index_dir, exclude_batch_id=batch_id)

    # shared q99 machinery (functions/dedup.window_gram_firsts /
    # scrub_marked_occurrences) — the only streaming-specific piece is
    # the OR with the persistent seen-gram index
    base, wins, firsts = window_gram_firsts(
        batch_df, window, text_col, id_col
    )
    # firsts feeds BOTH writes this tick (deduped docs + gram shard);
    # persist so the window explode + gram shuffle — the tick's most
    # expensive stage — runs once, not once per action
    firsts = firsts.persist()
    try:
        dup_occ = (
            wins.join(firsts, "w")
            .join(seen.withColumn("__seen", F.lit(True)), "w", "left")
            .filter(
                F.coalesce(F.col("__seen"), F.lit(False))
                | (
                    (F.col("cnt") >= 2)
                    & ~(
                        (F.col(id_col) == F.col(f"first.{id_col}"))
                        & (F.col("pos") == F.col("first.pos"))
                    )
                )
            )
            .select(F.col(id_col), F.col("pos"))
        )
        deduped = scrub_marked_occurrences(base, dup_occ, window, id_col)
        _commit_shard(index_dir, f"grams_{batch_id}", firsts.select("w"))
        _commit_shard(out_dir, f"docs_{batch_id}", deduped)
    finally:
        firsts.unpersist()


def stream_substring_dedup(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    query_name: str = "engine_stream_dedup",
) -> StreamingQuery:
    """availableNow drain: every docs parquet file not yet seen by the
    checkpoint flows through one incremental dedup tick.

    The (checkpoint_dir, index_dir, out_dir) triple is ONE unit of
    state: batch ids are unique per checkpoint, so pairing a fresh
    checkpoint with an existing index/output would replace the
    earliest batch subdirs — recover by reusing the checkpoint, never
    by replacing it."""
    schema = spark.read.parquet(docs_dir).schema
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: apply_substring_dedup_batch(
                batch_df, batch_id, index_dir, out_dir, text_col, id_col, window
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
