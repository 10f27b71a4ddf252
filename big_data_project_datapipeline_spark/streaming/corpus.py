"""Incremental corpus-statistics maintenance across cron ticks.

The batch corpus reports (Zipf fit, top tokens, OOV rate) start from one
(token, cnt) aggregate. At 100 TB that aggregate is the expensive part —
and it is a MERGEABLE state (counts are associative sums), so a daily
crawl drop should fold its delta into a persistent count store instead
of re-exploding the whole corpus. This module is that fold: the
corpus-stats sibling of streaming/dedup.py's persistent gram index and
operators/incremental.aggregate_state's mergeable-MV pattern.

Scale shape per tick: one explode + groupBy over the NEW batch only,
then one groupBy over the union of two O(vocab) frames. The store is
rewritten by the sinks' staged rename-swap commit because its own plan
reads the store path. Vocabulary grows sublinearly in
corpus size (Heaps' law), so the merged frame stays small relative to
any batch of raw text; at extreme vocab, partition the store by a token
hash prefix and merge per partition.

Replay safety: merging is NOT idempotent (a replayed batch would
double-count), so ticks are keyed — each batch lands its delta under
``deltas/<batch_id>/`` first (overwrite-idempotent), and the store is
rebuilt as base ⊕ all landed deltas only for batch ids not yet folded.
This mirrors the per-batch subdir-shard device streaming/dedup.py ships
(a replayed tick overwrites its shard instead of duplicating it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_project_datapipeline_spark.functions import corpus as CO
from big_data_project_datapipeline_spark.operators.incremental import (
    load_or_empty,
)
from big_data_project_datapipeline_spark.sinks import _commit, _recover

COUNT_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def merge_token_counts(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta into the running (token, cnt) state: one groupBy
    over the union of two already-aggregated frames — never raw rows."""
    return (
        prev.unionByName(delta)
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def land_delta(
    docs_batch: DataFrame, store_dir: str, batch_id: str
) -> str:
    """Aggregate ONE batch's token counts and land them under a
    batch-keyed subdir (replay overwrites, never duplicates)."""
    path = os.path.join(store_dir, "deltas", str(batch_id))
    CO.token_counts(docs_batch).write.mode("overwrite").parquet(path)
    return path


def _fold_pending_deltas(
    spark: SparkSession,
    store_dir: str,
    schema: T.StructType,
    merge_fn,
) -> DataFrame:
    """Shared fold: rebuild the base store as base ⊕ every landed delta
    whose batch id is not in the folded ledger, swap it in, and return
    the re-read store. merge_fn(prev, delta) must be an associative
    aggregate merge over two already-collapsed frames (the single call
    receives the UNION of all pending deltas — sums over a union equal
    chained pairwise merges, with one shuffle instead of N).

    Crash safety: the ledger lives INSIDE the store directory
    (``counts/_folded.json``; Spark ignores underscore-prefixed files in
    a parquet directory) and is written into the staged directory before
    the swap, so the merged counts and the folded-id set are replaced
    together — a crash can never leave counts that disagree with their
    ledger and double-count a delta on the next tick. Folded delta
    shards are pruned afterwards; the ledger alone prevents refolds, so
    a replay-relanded shard is garbage-collected on the next fold."""
    import json as _json
    import shutil

    base_path = os.path.join(store_dir, "counts")
    _recover(base_path)
    ledger_name = "_folded.json"
    folded: set[str] = set()
    ledger_path = os.path.join(base_path, ledger_name)
    if os.path.exists(ledger_path):
        with open(ledger_path) as fh:
            folded = set(_json.load(fh))
    deltas_root = os.path.join(store_dir, "deltas")
    pending = sorted(
        d
        for d in os.listdir(deltas_root)
        if d not in folded
        and os.path.isdir(os.path.join(deltas_root, d))
    )
    if pending:
        merged = load_or_empty(spark, base_path, schema)
        delta_frames = [
            spark.read.schema(schema).parquet(os.path.join(deltas_root, d))
            for d in pending
        ]
        union = delta_frames[0]
        for f in delta_frames[1:]:
            union = union.unionByName(f)
        merged = merge_fn(merged, union)
        folded |= set(pending)

        def stage(staging: str) -> None:
            merged.write.parquet(staging)
            with open(os.path.join(staging, ledger_name), "w") as fh:
                _json.dump(sorted(folded), fh)

        _commit(base_path, stage)
    # prune delta shards already recorded in the ledger (incl. shards
    # re-landed by a replayed batch id — the ledger blocks refolds)
    for d in os.listdir(deltas_root):
        if d in folded:
            shutil.rmtree(os.path.join(deltas_root, d), ignore_errors=True)
    return spark.read.schema(schema).parquet(base_path)


def maintain_token_counts(
    spark: SparkSession,
    docs_batch: DataFrame,
    store_dir: str,
    batch_id: str,
) -> DataFrame:
    """One cron tick: land the batch delta (idempotent per batch_id),
    then rebuild the merged store from base ⊕ unfolded deltas. Returns
    the merged (token, cnt) frame as re-read from the committed store."""
    land_delta(docs_batch, store_dir, batch_id)
    return _fold_pending_deltas(
        spark, store_dir, COUNT_SCHEMA, merge_token_counts
    )


def zipf_report(spark: SparkSession, store_dir: str, top_ranks: int = 100):
    """Zipf fit straight off the maintained store — identical to the
    batch zipf_fit over all documents ever folded (pinned by test)."""
    counts = spark.read.schema(COUNT_SCHEMA).parquet(
        os.path.join(store_dir, "counts")
    )
    return CO.zipf_fit_from_counts(counts, top_ranks=top_ranks)


def negative_sampling_report(
    spark: SparkSession, store_dir: str, alpha: float = 0.75
):
    """word2vec negative-sampling table (q227) served straight off the
    maintained (token, cnt) store — the training-side artifact
    refreshed per corpus tick with ZERO corpus rescans (the zipf_report
    pattern): the store already holds the one aggregate the table
    derives from, and the tail is the SAME
    corpus.sampling_table_from_counts expression as batch — bit-equal
    to negative_sampling_table over every document ever folded (pinned
    by test)."""
    counts = spark.read.schema(COUNT_SCHEMA).parquet(
        os.path.join(store_dir, "counts")
    )
    return CO.sampling_table_from_counts(
        counts.select("token", F.col("cnt").alias("n")), alpha=alpha
    )


def good_turing_report(spark: SparkSession, store_dir: str):
    """Good–Turing frequency-of-frequencies + unseen-mass estimate
    (q231's readout) served straight off the maintained (token, cnt)
    store — zero corpus rescans; the tail is the SAME
    corpus.good_turing_from_counts expression as batch, bit-equal to a
    full recount over every document ever folded (pinned by test).
    The production rhythm this enables: P0 repriced per corpus tick
    from one O(vocab) aggregate, never a corpus pass."""
    counts = spark.read.schema(COUNT_SCHEMA).parquet(
        os.path.join(store_dir, "counts")
    )
    return CO.good_turing_from_counts(
        counts.select("token", F.col("cnt").alias("n"))
    )


def gini_report(spark: SparkSession, store_dir: str):
    """Corpus-wide Gini concentration + top-decile mass share (q232's
    readout, global) served straight off the maintained (token, cnt)
    store — zero corpus rescans (the zipf_report pattern); the tail is
    the SAME corpus.gini_from_counts expression as batch, bit-equal to
    a full recount over every document ever folded (pinned by test)."""
    counts = spark.read.schema(COUNT_SCHEMA).parquet(
        os.path.join(store_dir, "counts")
    )
    return CO.gini_from_counts(
        counts.select("token", F.col("cnt").alias("n"))
    )


# --- Kneser–Ney bigram-model maintenance -------------------------------
# The expensive half of the KN family (functions/corpus.
# kneser_ney_bigram / kneser_ney_doc_scores) is the corpus-wide
# (w1, w2, c12) bigram aggregate — an associative-sum state exactly
# like token counts, one n-gram order up. Folding per-batch deltas
# keeps the language model current per corpus tick; re-pricing the
# model and scoring any candidate batch are then O(bigram-types) tails
# with ZERO corpus rescans.

BIGRAM_SCHEMA = T.StructType(
    [
        T.StructField("w1", T.StringType()),
        T.StructField("w2", T.StringType()),
        T.StructField("c12", T.LongType()),
    ]
)


def merge_bigram_counts(prev: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        prev.unionByName(delta)
        .groupBy("w1", "w2")
        .agg(F.sum("c12").cast("long").alias("c12"))
    )


def maintain_bigram_counts(
    spark: SparkSession,
    docs_batch: DataFrame,
    store_dir: str,
    batch_id: str,
) -> DataFrame:
    """One cron tick of bigram-count maintenance: land the batch's
    (w1, w2, c12) delta under a batch-keyed subdir (replay overwrites,
    never double-counts — the maintain_token_counts device), fold
    unfolded deltas into the base store, return the merged frame."""
    path = os.path.join(store_dir, "deltas", str(batch_id))
    CO.bigram_counts(docs_batch).write.mode("overwrite").parquet(path)
    return _fold_pending_deltas(
        spark, store_dir, BIGRAM_SCHEMA, merge_bigram_counts
    )


def kneser_ney_report(
    spark: SparkSession, store_dir: str, discount: float = 0.75
):
    """The interpolated-KN bigram model (q235's surface) served
    straight off the maintained (w1, w2, c12) store — zero corpus
    rescans (the zipf_report pattern); the tail is the SAME
    corpus.kneser_ney_from_counts expressions as batch, bit-equal to
    kneser_ney_bigram over every document ever folded (pinned by
    test): exact long counts admit exactly one value however they
    were summed."""
    big = spark.read.schema(BIGRAM_SCHEMA).parquet(
        os.path.join(store_dir, "counts")
    )
    return CO.kneser_ney_from_counts(big, discount=discount)


def kn_doc_scores_report(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
):
    """Per-document KN scores (q236's surface) for a candidate batch
    under the STORE-served model — the production perplexity-filter
    rhythm: the model re-prices per corpus tick from the maintained
    bigram store; scoring any batch is one tokenize pass over that
    batch + one join against the O(bigram-types) model table. When
    every folded document is also the scored batch, output is
    bit-equal to the batch kneser_ney_doc_scores (pinned by test) —
    the scoring tail is corpus.kn_score_doc_pairs verbatim."""
    model = kneser_ney_report(spark, store_dir, discount=discount)
    doc_pairs = CO._kn_doc_pairs(docs, text_col, id_col)
    return CO.kn_score_doc_pairs(doc_pairs, model)


# --- DSIR weight maintenance -------------------------------------------
# The expensive half of DSIR importance weighting (functions/corpus.
# dsir_importance) is the corpus-wide (bucket, ct, cr) histogram — also
# an associative-sum state. Folding daily deltas keeps the weight table
# current without re-exploding 100 TB of history; scoring any candidate
# batch is then one broadcast join (dsir_score_docs).

DSIR_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("ct", T.LongType()),
        T.StructField("cr", T.LongType()),
    ]
)


def merge_dsir_counts(prev: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        prev.unionByName(delta)
        .groupBy("bucket")
        .agg(
            F.sum("ct").cast("long").alias("ct"),
            F.sum("cr").cast("long").alias("cr"),
        )
    )


def maintain_dsir_counts(
    spark: SparkSession,
    docs_batch: DataFrame,
    store_dir: str,
    batch_id: str,
    target_source: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """One cron tick of DSIR state maintenance: land the batch's
    (bucket, ct, cr) delta under a batch-keyed subdir (replay
    overwrites, never double-counts), fold unfolded deltas into the
    base store, return the merged frame. Feed the result to
    functions/corpus.dsir_weights_from_counts — pinned by test to be
    bit-identical to the batch dsir_importance over all folded docs."""
    path = os.path.join(store_dir, "deltas", str(batch_id))
    CO.dsir_bucket_counts(
        docs_batch, target_source, n_buckets=n_buckets
    ).write.mode("overwrite").parquet(path)
    return _fold_pending_deltas(
        spark, store_dir, DSIR_SCHEMA, merge_dsir_counts
    )
