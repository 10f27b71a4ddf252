"""Incremental HLL cardinality monitoring across cron ticks.

The batch estimator (functions/sketches.hll_registers, q176) rescans
the whole corpus per run. In production "distinct users so far" arrives
as a stream of daily batches, and the HLL register frame is exactly the
mergeable state the sketch was designed around: registers of a union
are the elementwise MAX of the parts' registers, so each tick folds the
NEW batch's registers into a persistent store instead of rescanning
history — the sketch sibling of streaming/drift.py's PSI counts, on the
same crash-safe batch-keyed delta/ledger machinery
(_fold_pending_deltas, max-merge instead of sum-merge).

Bit-parity with batch: the register expression and the estimator tail
are the SAME code paths the batch operator uses
(functions/sketches.hll_registers / hll_estimate), so a stream fed
batch-by-batch produces the exact estimate the batch operator computes
on the union — including under batch replay (pinned by
tests/test_stream_sketches.py).

Scale shape per tick: one map-side-combinable groupBy over the NEW
batch only (at most m register rows per partition-group), then one
max-merge of two O(groups × m) frames. Replay-safe via the per-batch
delta subdir + fold ledger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_project_datapipeline_spark.functions.sketches import (
    hll_estimate,
    hll_registers,
)
from big_data_project_datapipeline_spark.streaming.corpus import (
    _fold_pending_deltas,
)

REGISTER_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("r", T.IntegerType()),
    ]
)


def _merge_registers(prev: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        prev.unionByName(delta)
        .groupBy("grp", "bucket")
        .agg(F.max("r").cast("int").alias("r"))
    )


def maintain_hll_registers(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    batch_id: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
    p: int = 6,
) -> DataFrame:
    """One cron tick: compute the NEW batch's complete register frame
    (the batch operator's own code path), land it under a batch-keyed
    delta subdir (replay overwrites, never double-maxes — max is
    idempotent anyway, but the ledger keeps the fold O(pending) and
    the store canonical), max-fold all pending deltas, and return the
    folded store."""
    regs = hll_registers(batch_df, key_col, [group_col], p=p).select(
        F.col(group_col).cast("string").alias("grp"),
        F.col("bucket").cast("int").alias("bucket"),
        F.col("r").cast("int").alias("r"),
    )
    delta_path = os.path.join(store_dir, "deltas", str(batch_id))
    regs.write.mode("overwrite").parquet(delta_path)
    return _fold_pending_deltas(
        spark, store_dir, REGISTER_SCHEMA, _merge_registers
    )


def hll_report(
    spark: SparkSession,
    store_dir: str,
    group_col: str = "event_type",
    p: int = 6,
) -> DataFrame:
    """The cardinality report from the folded register store alone — no
    raw-data rescans: the store rows ARE complete per-group register
    grids (every delta is complete and max preserves completeness), fed
    through the SAME estimator tail as the batch operator (bit-equal by
    construction)."""
    regs = spark.read.schema(REGISTER_SCHEMA).parquet(
        os.path.join(store_dir, "counts")
    )
    return hll_estimate(regs, ["grp"], p=p).withColumnRenamed(
        "grp", group_col
    )


def stream_hll_monitor(
    spark: SparkSession,
    events_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
    p: int = 6,
    query_name: str = "engine_stream_hll",
    schema=None,
):
    """Structured-Streaming front end for the register store: an
    availableNow drain over a landed events directory — every parquet
    file not yet seen by the checkpoint flows through one
    maintain_hll_registers tick (keyed by the streaming batch id, so a
    replayed batch overwrites its delta instead of re-folding — the
    same idempotence contract streaming/drift.py has). The
    (checkpoint_dir, store_dir) pair is ONE unit of state. Pass
    ``schema`` explicitly to start the monitor before the first file
    lands."""
    if schema is None:
        schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: maintain_hll_registers(
                batch_df.sparkSession,
                batch_df,
                store_dir,
                f"b{batch_id}",
                key_col=key_col,
                group_col=group_col,
                p=p,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


KMV_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.StringType()),
        T.StructField("h", T.LongType()),
    ]
)


def _merge_kmv(k: int):
    """Bottom-k merge law (Beyer et al. 2007): the bottom-k of a union
    is the bottom-k of the parts' bottom-ks — union, dedupe, re-take
    the k smallest per group. The per-group window input is bounded by
    2k rows by construction (both parts are sketches), and the
    ``row_number <= k`` filter gets Catalyst's WindowGroupLimit
    map-side cut."""

    def merge(prev: DataFrame, delta: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        u = prev.unionByName(delta).distinct()
        w = Window.partitionBy("grp").orderBy("h")
        return (
            u.select("grp", "h", F.row_number().over(w).alias("__rn"))
            .filter(F.col("__rn") <= k)
            .select("grp", "h")
        )

    return merge


def maintain_kmv_sketch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    batch_id: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 256,
    hll_p: int = 8,
) -> DataFrame:
    """One cron tick of the KMV audience sketch: the NEW batch's
    bottom-k frame (the batch operator's own code path, HLL-prefilter
    included — exact per batch, and the merge law keeps the fold
    exact), landed under a batch-keyed delta subdir, then a bottom-k
    fold of all pending deltas. The folded store serves EVERY KMV
    read: distinct estimates (kmv_distinct_estimate), pairwise overlap
    (kmv_pair_overlap) and set differences (kmv_set_difference) — the
    streaming path to q178/q183's reports without rescanning
    history."""
    from big_data_project_datapipeline_spark.functions.sketches import (
        kmv_sketch,
    )

    sk = kmv_sketch(batch_df, key_col, [group_col], k=k, hll_p=hll_p).select(
        F.col(group_col).cast("string").alias("grp"),
        F.col("h").cast("long").alias("h"),
    )
    delta_path = os.path.join(store_dir, "deltas", str(batch_id))
    sk.write.mode("overwrite").parquet(delta_path)
    return _fold_pending_deltas(spark, store_dir, KMV_SCHEMA, _merge_kmv(k))


def kmv_report(
    spark: SparkSession,
    store_dir: str,
    group_col: str = "event_type",
    k: int = 256,
) -> DataFrame:
    """Distinct-cardinality report from the folded KMV store alone —
    the same estimator tail as the batch operator (bit-equal by
    construction on the merged sketch)."""
    from big_data_project_datapipeline_spark.functions.sketches import (
        kmv_distinct_estimate,
    )

    sk = spark.read.schema(KMV_SCHEMA).parquet(
        os.path.join(store_dir, "counts")
    )
    return kmv_distinct_estimate(sk, ["grp"], k=k).withColumnRenamed(
        "grp", group_col
    )
