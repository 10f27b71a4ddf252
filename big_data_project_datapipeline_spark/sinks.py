"""Sinks (SURVEY.md §2.2, §1.4).

The reference's storage model is append-only CSV rewritten in full every
day, versioned by DVC md5 (reference raw_data.py:241-269, data/*.dvc). The
Spark-native storage model:

- **Date-partitioned parquet** as the system of record. The daily upsert
  reads and rewrites only the target date's ``key=value`` directories
  instead of rewriting history — at 100 TB that is the difference between
  an O(day) and O(years) write.
- **CSV export** kept as a parity/interchange surface (K1/K2 semantics,
  exact column names preserved).
- **JSON metrics doc** (K3) — O(1) driver-side write.

One commit protocol replaces data in place. Every write that replaces
a directory stages the new data in the sibling ``<path>.staging``, then
:func:`_commit` renames each replaced directory (the whole store, or
named subdirectories of it) into the sibling ``<path>.backup``, renames
its staged twin into place, and drops the backup. The sites:

- whole store: ``promote_overwrite``, ``compact_parquet``,
  ``export_csv`` and ``write_training_shards`` (its ``data/`` and
  ``_MANIFEST.json`` swap in together);
- ``key=value`` partition dirs: ``merge_into_partitioned`` and
  ``delete_where``;
- named shards of the streaming gram index (``streaming/dedup.py``): a
  tick's ``docs_<batch>`` and ``grams_<batch>``, and
  ``compact_gram_index``, whose merged shard replaces its sources.

Each site first calls :func:`_recover`, before it reads the store, so a
crash at any point leaves every replaced directory at its old or its new
version and a rerun of the same operation converges to the uninterrupted
result. The protocol needs ``os.rename`` (a local filesystem); object
stores need a table format.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.operators.merge import upsert_keep_last

_STAGING, _BACKUP = ".staging", ".backup"
# the backup name of a whole-store swap; a partition directory is always
# key=value, so it can never be this
_WHOLE_STORE = "_store"


def _recover(path: str) -> None:
    """Undo a crashed :func:`_commit` on ``path``: restore each backed-up
    directory whose live twin is missing, then clear leftover staging and
    backup. A no-op after a clean commit."""
    root = path.rstrip("/")
    backup = root + _BACKUP
    if os.path.isdir(backup):
        for name in os.listdir(backup):
            live = root if name == _WHOLE_STORE else os.path.join(root, name)
            if not os.path.exists(live):
                os.rename(os.path.join(backup, name), live)
    shutil.rmtree(root + _STAGING, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)


def _commit(
    path: str, stage: Callable[[str], None], names: list[str] | None = None
) -> None:
    """Replace data under ``path`` by a staged rename-swap.

    ``stage(staging)`` writes the new data to the sibling staging dir and
    may raise to abort before anything live is touched. With ``names``
    None the staged dir replaces the whole store; otherwise it holds
    named subdirs (``key=value`` partitions, gram-index shards) and each
    named subdir is swapped for its staged twin, or removed when the
    stage wrote none (an emptied partition, a merged-away shard).
    Replaced dirs move into one backup dir that is dropped only after
    every staged dir is in place. Callers run :func:`_recover` first,
    before they read the store."""
    root = path.rstrip("/")
    staging, backup = root + _STAGING, root + _BACKUP
    stage(staging)
    os.makedirs(backup)
    if names is None:
        if os.path.exists(root):
            os.rename(root, os.path.join(backup, _WHOLE_STORE))
        os.rename(staging, root)
    else:
        os.makedirs(root, exist_ok=True)
        for name in names:
            if os.path.exists(os.path.join(root, name)):
                os.rename(os.path.join(root, name), os.path.join(backup, name))
        for name in names:
            if os.path.exists(os.path.join(staging, name)):
                os.rename(os.path.join(staging, name), os.path.join(root, name))
    shutil.rmtree(backup)
    shutil.rmtree(staging, ignore_errors=True)


def _partition_dirs(df: DataFrame, col: str) -> Counter:
    """Row count per ``key=value`` directory that a ``partitionBy(col)``
    write of ``df`` lands in, named by Spark's own rule
    (``ExternalCatalogUtils.getPartitionPathString``: path escaping, and
    NULL or empty as ``__HIVE_DEFAULT_PARTITION__``) over the value cast
    to string, as the writer casts it."""
    jvm = df.sparkSession._jvm
    path_string = (
        jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    ).getPartitionPathString
    # collect-ok: O(distinct partition values) manifest
    rows = df.groupBy(F.col(col).cast("string")).count().collect()
    dirs: Counter = Counter()
    for value, n in rows:
        dirs[path_string(col, value)] += n
    return dirs


def _read_partitions(
    spark: SparkSession, path: str, names: list[str]
) -> DataFrame | None:
    """The named partition dirs of ``path`` that exist, read by path with
    the partition column kept (``basePath``); None when none exists."""
    dirs = [os.path.join(path, n) for n in names]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return None
    return spark.read.option("basePath", path).parquet(*dirs)


def merge_into_partitioned(
    new: DataFrame, path: str, keys: list[str], partition_col: str
) -> None:
    """Upsert ``new`` into the partitioned sink, new-wins per key (D1).

    Only the partition dirs ``new`` touches are read back (by path),
    merged, and swapped in — the reference's read-modify-write of the
    whole CSV (raw_data.py:246-263) shrunk to the touched dates; a
    missing store is created. Emulates Delta MERGE with plain parquet.
    The merged plan reads the live dirs while the write goes to staging,
    so the store needs no materialization before the swap.

    ``new`` is persisted for the call: the first job, which names the
    touched dirs, executes its plan once and caches the rows, and the
    write reads that cache. An observation on ``new`` is collected by
    that first job and counts exactly its rows. The cache is released
    once the commit ends, whether it succeeds or raises.
    """
    _recover(path)
    new.cache()
    try:
        names = sorted(_partition_dirs(new, partition_col))
        existing = _read_partitions(new.sparkSession, path, names)
        merged = (
            new if existing is None else upsert_keep_last(existing, new, keys=keys)
        )
        # one file per partition dir, in key order, whatever partitioning
        # the cache or the upsert left: the layout, and so every later
        # order-sensitive float sum over the store, does not depend on it
        laid_out = merged.repartition(partition_col).sortWithinPartitions(
            partition_col, *keys
        )
        _commit(path, laid_out.write.partitionBy(partition_col).parquet, names)
    finally:
        new.unpersist(blocking=True)


def promote_overwrite(df: DataFrame, path: str) -> None:
    """Whole-store parquet overwrite for stores whose OWN plan reads
    ``path`` (the incremental read-transform-replace shape): the plan
    reads the live store while the write goes to staging, then
    :func:`_commit` swaps it in — an input is never clobbered mid-plan
    and readers never see a half-written store."""
    _recover(path)
    _commit(path, df.write.parquet)


def export_csv(df: DataFrame, path: str) -> None:
    """K1/K2 parity export: single-header CSV directory, exact column
    names (incl. %/£ chars), UTC ISO timestamps."""
    _recover(path)
    _commit(path, df.write.option("header", True).csv)


def write_metrics_json(metrics: dict, path: str) -> None:
    """K3: the monitoring document (reference raw_data.py:396-424) —
    read-modify-write of an O(1) JSON doc stays driver-side."""
    existing: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            try:
                existing = json.load(fh)
            except json.JSONDecodeError:
                existing = {}
    existing.update(metrics)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    # write-temp + rename: a write that raises mid-dump leaves the
    # previous doc intact
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(existing, fh, indent=2, sort_keys=True)
    os.replace(tmp, path)


def compact_parquet(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction — the maintenance job every streaming/
    incremental sink eventually needs (each micro-batch append writes
    O(partitions) files; a year of half-hourly cron ticks is ~17k tiny
    files whose footer reads dominate scan time at 100 TB).

    Hive-partitioned stores (the ``merge_into_partitioned`` layout,
    ``key=value`` subdirectories) are detected from the directory names
    and rewritten WITH the same
    ``partitionBy`` — a flat rewrite would mix root-level files with
    ``key=`` dirs on the next partition merge and break both reads and
    partition pruning. The rewrite hash-partitions on the partition
    columns, so every ``key=`` dir compacts to one file (all rows of a
    key land in one task); unpartitioned stores compact to
    ceil(bytes / target) files.

    The rewrite is staged and swapped in whole by :func:`_commit`, and
    only if the staged copy's row count matches the source's; otherwise
    it raises with the source untouched. Returns the new file count.
    """
    import math

    _recover(path)
    part_cols = sorted(
        {
            d.split("=", 1)[0]
            for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        }
    )
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    src = spark.read.parquet(path)
    src_rows = src.count()

    def stage(staging: str) -> None:
        if part_cols:
            src.repartition(n_files, *part_cols).write.partitionBy(
                *part_cols
            ).parquet(staging)
        else:
            src.coalesce(n_files).write.parquet(staging)
        if spark.read.parquet(staging).count() != src_rows:
            raise RuntimeError(
                f"compact_parquet: rewrite of {path} lost rows; aborted "
                f"before swap, source untouched"
            )

    _commit(path, stage)
    return n_files


def write_training_shards(
    df: DataFrame,
    root: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    fmt: str = "json",
) -> dict:
    """Training-export sink: shard the corpus into exactly ``n_shards``
    files by deterministic md5(doc id) (the q47/q65 device — stable
    across runs and engines, no RNG), one file per shard in (shard,
    doc_id) order, plus a ``_MANIFEST.json`` with per-shard row and
    token counts. This is the hand-off surface to a training job:
    multi-worker loaders consume one shard each, the manifest tells the
    scheduler how much work each shard carries, and re-exporting the
    same corpus reproduces byte-identical shard membership.

    Format ``json`` emits JSONL (the lingua franca of LLM data drops);
    ``parquet`` keeps columnar. Returns the manifest dict. ``data/`` and
    the manifest are staged and swapped in together by :func:`_commit`;
    an export rejected for null doc ids writes nothing.

    Scale shape: one repartition on the shard key (each output file is
    one partition — n_shards is the parallelism knob, sized so
    corpus/n_shards fits a worker), in-partition sort for reproducible
    line order, and a manifest from one O(n_shards) aggregate. The
    md5 shard key is uniform by construction, so shard skew is bounded
    by doc-length variance only."""
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % n_shards
    ).cast("int")
    from big_data_project_datapipeline_spark.functions.text import token_count

    if fmt not in ("json", "parquet"):
        raise ValueError(f"unsupported fmt: {fmt}")
    _recover(root)
    # persist around the two actions (manifest aggregate + shard write)
    # so the corpus is scanned/tokenized once, and both read the same
    # snapshot even if the input directory is concurrently appended
    staged = df.withColumn("shard", shard).persist()
    try:
        manifest_rows = (
            staged.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens"),
            )
            .collect()
        )
        if any(r["shard"] is None for r in manifest_rows):
            raise ValueError(
                "write_training_shards: null doc ids present — they cannot "
                "be sharded deterministically (md5(NULL) is NULL); drop or "
                "key them first"
            )
        manifest = {
            "n_shards": n_shards,
            "format": fmt,
            "shards": {
                str(r["shard"]): {"n_rows": r["n_rows"], "n_tokens": r["n_tokens"]}
                for r in sorted(manifest_rows, key=lambda r: r["shard"])
            },
            "total_rows": int(sum(r["n_rows"] for r in manifest_rows)),
            "total_tokens": int(sum(r["n_tokens"] or 0 for r in manifest_rows)),
        }

        def stage(staging: str) -> None:
            staged.repartition(n_shards, "shard").sortWithinPartitions(
                "shard", id_col
            ).write.partitionBy("shard").format(fmt).save(
                os.path.join(staging, "data")
            )
            with open(os.path.join(staging, "_MANIFEST.json"), "w") as fh:
                json.dump(manifest, fh, indent=1, sort_keys=True)

        _commit(root, stage)
    finally:
        staged.unpersist()
    return manifest


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    partition_col: str,
) -> int:
    """Targeted row purge from a hive-partitioned parquet store (the
    GDPR-delete / right-to-be-forgotten shape): locate the partitions
    that actually contain matching rows (one scan), rewrite ONLY those
    partitions without the matches, and leave every other partition's
    files untouched. Returns the number of rows deleted (rows where
    ``condition`` is TRUE — a NULL predicate result keeps the row, SQL
    DELETE semantics, so the keep filter is ``~condition OR condition IS
    NULL`` rather than ``~condition`` alone).

    This is DELETE-emulation over plain parquet, the same posture as
    merge_into_partitioned's MERGE emulation: at 100 TB the point is
    that a purge touches O(partitions containing the subject), never
    the store. ``condition`` is a boolean Column over the store's
    schema. A partition whose rows ALL match has no staged twin, so
    :func:`_commit` removes its directory."""
    _recover(path)
    touched = _partition_dirs(
        spark.read.parquet(path).filter(condition), partition_col
    )
    if not touched:
        return 0
    names = sorted(touched)
    kept = _read_partitions(spark, path, names).filter(
        ~condition | condition.isNull()
    )
    _commit(path, kept.write.partitionBy(partition_col).parquet, names)
    return sum(touched.values())
