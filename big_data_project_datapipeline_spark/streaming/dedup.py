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
- state: the gram index is a directory of per-batch parquet subdirs
  (``grams_<batch_id>``). Each micro-batch OVERWRITES its own subdir,
  so a crashed-and-replayed batch rewrites the same files instead of
  appending duplicates — idempotent without reading-while-appending a
  single directory. Deduped docs land the same way (``docs_<batch_id>``).
- scale: the per-batch work is the q99 budget (map-only window explode,
  map-side-combinable groupBy(gram), gram-keyed joins); the index join
  is one equi-join on the gram key. The index itself is the large
  state — O(distinct grams) rows of one string column; compact it
  periodically (:func:`compact_gram_index` — shard count and fold
  cost stay bounded, measured over a 50-tick run in the tests /
  NOTES_r10).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from big_data_project_datapipeline_spark.functions.dedup import (
    scrub_marked_occurrences,
    window_gram_firsts,
)


def load_gram_index(
    spark: SparkSession, index_dir: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """Union of every batch's gram subdir; empty frame on bootstrap.

    ``exclude_batch_id`` skips that batch's OWN shard — a replayed
    batch must dedup against the pre-batch state, not against the grams
    it wrote on the crashed attempt (it would otherwise scrub itself).
    Local-FS directory listing; an object-store deployment swaps this
    for the FileSystem API listing."""
    import os

    try:
        shards = sorted(
            d for d in os.listdir(index_dir) if d.startswith("grams_")
        )
    except FileNotFoundError:
        shards = []
    if exclude_batch_id is not None:
        shards = [d for d in shards if d != f"grams_{exclude_batch_id}"]
    if not shards:
        return spark.createDataFrame([], "w string")
    paths = [os.path.join(index_dir, d) for d in shards]
    try:
        return spark.read.parquet(*paths).select("w").distinct()
    except AnalysisException:
        return spark.createDataFrame([], "w string")


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
    frame (the stream ≡ batch equivalence the tests pin)."""
    spark = batch_df.sparkSession
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
        # per-batch subdirs: a replayed batch overwrites its own output
        # and gram shard — idempotent, and the index is never read and
        # appended in the same directory listing
        deduped.write.mode("overwrite").parquet(f"{out_dir}/docs_{batch_id}")
        firsts.select("w").write.mode("overwrite").parquet(
            f"{index_dir}/grams_{batch_id}"
        )
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
    checkpoint with an existing index/output would overwrite the
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


def compact_gram_index(
    spark: SparkSession, index_dir: str, upto_batch_id: int
) -> int:
    """The documented "compact periodically" maintenance job, as code
    (VERDICT r9 item 8): merge every gram shard with batch id <
    ``upto_batch_id`` into ONE distinct-gram shard, bounding the
    fold's union cost at O(1 merged + recent shards) instead of
    O(ticks). Ticks write their full distinct-gram set (simple,
    replay-idempotent), so grams repeat across shards and the raw
    ledger grows with ticks even when the gram population doesn't —
    this job reclaims that.

    Pass the latest CHECKPOINT-COMMITTED batch id: shards >=
    ``upto_batch_id`` are untouched, so the one batch that can ever
    replay (the latest, if its commit crashed) still finds the
    pre-batch state and still excludes its own shard.

    Crash-safe by idempotent redundancy, never by a delete-first
    window: (1) the merged distinct union writes to a tmp name
    the loader never matches; (2) one atomic rename publishes it as
    ``grams_merged_<maxid>_g<gen>`` (matched by the loader's
    ``grams_`` prefix, never matched by an ``exclude_batch_id``, and
    the generation counter — one past the highest among the sources —
    guarantees the published name NEVER collides with a source, so no
    source is ever deleted before the merged copy is live); (3) only
    then are the source shards deleted one by one. A crash at ANY
    point leaves the loaded union a superset-with-duplicates of the
    true gram set — and ``load_gram_index`` distincts — so correctness
    never depends on completing the sweep; the next compaction absorbs
    leftovers (merged shards with maxid < upto re-merge like plain
    ones). Returns the number of shards merged (0 = nothing to do)."""
    import os
    import shutil

    def parse(name: str) -> tuple[int, int] | None:
        """(batch id, generation) of a shard name, else None."""
        if name.startswith("grams_merged_"):
            tail = name[len("grams_merged_"):]
            parts = tail.split("_g")
            if (
                len(parts) == 2
                and parts[0].isdigit()
                and parts[1].isdigit()
            ):
                return int(parts[0]), int(parts[1])
            return None
        if name.startswith("grams_"):
            tail = name[len("grams_"):]
            return (int(tail), 0) if tail.isdigit() else None
        return None

    try:
        entries = sorted(os.listdir(index_dir))
    except FileNotFoundError:
        return 0
    merge = [
        d for d in entries if (p := parse(d)) is not None and p[0] < upto_batch_id
    ]
    if len(merge) < 2:
        return 0
    max_id = max(parse(d)[0] for d in merge)
    gen = 1 + max(parse(d)[1] for d in merge)
    # any name without the "grams_" prefix is invisible to the loader;
    # an UNHIDDEN tmp name keeps the verification read off Spark's
    # hidden-path filter (dot/underscore prefixes warn and are
    # version-fragile there)
    tmp = os.path.join(index_dir, "compact.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    paths = [os.path.join(index_dir, d) for d in merge]
    merged = spark.read.parquet(*paths).select("w").distinct()
    merged.write.mode("overwrite").parquet(tmp)
    n_src = spark.read.parquet(*paths).select("w").distinct().count()
    n_tmp = spark.read.parquet(tmp).count()
    if n_tmp != n_src:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_gram_index: merged shard row count {n_tmp} != "
            f"source distinct count {n_src}; aborted, sources kept"
        )
    dst = os.path.join(index_dir, f"grams_merged_{max_id}_g{gen}")
    os.replace(tmp, dst)
    for d in merge:
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
    return len(merge)
