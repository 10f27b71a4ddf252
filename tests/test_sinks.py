"""Sinks: partitioned merge rewrites only touched partitions, CSV
parity, metrics doc, content hash, crash-safe commits."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark import sinks
from oracles import content_hash
from big_data_project_datapipeline_spark.streaming.dedup import (
    apply_substring_dedup_batch,
    compact_gram_index,
    load_gram_index,
)

UTC = dt.timezone.utc


def ts(d, h):
    return dt.datetime(2024, 1, d, h, tzinfo=UTC)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "datetime timestamp, v double"
    ).withColumn("date", F.to_date("datetime"))


def test_merge_into_partitioned_upsert(spark, tmp_path):
    path = str(tmp_path / "hist")
    day1 = _mk(spark, [(ts(1, 0), 1.0), (ts(1, 1), 2.0)])
    sinks.merge_into_partitioned(day1, path, keys=["datetime"], partition_col="date")

    # day-2 batch + a correction for day-1 01:00 — new wins
    day2 = _mk(spark, [(ts(1, 1), 99.0), (ts(2, 0), 3.0)])
    sinks.merge_into_partitioned(day2, path, keys=["datetime"], partition_col="date")

    out = {r["datetime"].isoformat(): r["v"] for r in spark.read.parquet(path).collect()}
    assert out["2024-01-01T00:00:00"] == 1.0
    assert out["2024-01-01T01:00:00"] == 99.0
    assert out["2024-01-02T00:00:00"] == 3.0

    # idempotent re-merge
    sinks.merge_into_partitioned(day2, path, keys=["datetime"], partition_col="date")
    assert spark.read.parquet(path).count() == 3


def test_csv_roundtrip_special_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [(1.0, 2.0)], "`humidity_%` double, `retail_price_£_per_kWh` double"
    )
    path = str(tmp_path / "csv")
    sinks.export_csv(df, path)
    back = spark.read.option("header", True).csv(path)
    assert set(back.columns) == {"humidity_%", "retail_price_£_per_kWh"}


def test_metrics_json_read_modify_write(tmp_path):
    p = str(tmp_path / "m" / "metrics.json")
    sinks.write_metrics_json({"api_success_rate": 1.0, "total_apis": 5}, p)
    sinks.write_metrics_json({"api_success_rate": 0.8, "last_run": "2024-01-01T00:00:00Z"}, p)
    doc = json.load(open(p))
    assert doc["api_success_rate"] == 0.8  # updated
    assert doc["total_apis"] == 5          # preserved
    assert doc["last_run"].endswith("Z")


def test_metrics_json_survives_a_failed_write(tmp_path):
    # a value json cannot serialize raises mid-dump; the earlier doc must
    # stay readable and keep every key for the next write
    p = str(tmp_path / "metrics.json")
    sinks.write_metrics_json({"last_run": "d1", "rows_ingested": 24}, p)
    with pytest.raises(TypeError):
        sinks.write_metrics_json({"zz": object()}, p)
    assert json.load(open(p)) == {"last_run": "d1", "rows_ingested": 24}
    sinks.write_metrics_json({"rows_ingested": 25}, p)
    assert json.load(open(p)) == {"last_run": "d1", "rows_ingested": 25}


def test_content_hash_stability(spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df2 = spark.createDataFrame([(2, "b"), (1, "a")], "id long, s string")  # reordered
    df3 = spark.createDataFrame([(1, "a"), (2, "c")], "id long, s string")  # changed
    h1, h2, h3 = map(content_hash, (df1, df2, df3))
    assert h1 == h2
    assert h1 != h3


def test_partition_pruning_on_read(spark, tmp_path):
    """A date filter over the partitioned sink must prune at the partition
    level (PartitionFilters in the scan, not a post-scan filter) — this is
    the reference's F1 'filter to yesterday' made O(day) at 100 TB."""
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}", float(i)) for i in range(30)],
        "id long, d string, v double",
    )
    sinks.merge_into_partitioned(df, path, keys=["id"], partition_col="d")
    q = spark.read.parquet(path).filter(F.col("d") == "2024-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(d" in plan
    # pruned scan reads exactly the one partition's rows
    assert q.count() == 10


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from big_data_project_datapipeline_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # fragment: 32 tiny files
    spark.range(0, 10_000).repartition(32).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 32
    n = compact_parquet(spark, path, target_file_bytes=10**9)
    assert n == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 10_000


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """A date-partitioned store (the merge_into_partitioned layout) must
    come back date-partitioned: a flat rewrite would break the next
    dynamic-partition merge and lose pruning (round-2 ADVICE, high)."""
    import glob

    from pyspark.sql import functions as F

    from big_data_project_datapipeline_spark.sinks import compact_parquet

    path = str(tmp_path / "store")
    df = spark.range(0, 3_000).select(
        (F.col("id") % 3).cast("string").alias("date"), F.col("id").alias("v")
    )
    # fragment each partition into 8 files
    df.repartition(8).write.partitionBy("date").parquet(path)
    assert len(glob.glob(path + "/date=*/*.parquet")) == 24
    compact_parquet(spark, path, target_file_bytes=10**9)
    # layout preserved: key= dirs, no root-level data files
    assert sorted(
        d.rsplit("/", 1)[-1] for d in glob.glob(path + "/date=*")
    ) == ["date=0", "date=1", "date=2"]
    assert glob.glob(path + "/*.parquet") == []
    # each partition compacts to one file; rows and values intact
    for d in ("0", "1", "2"):
        assert len(glob.glob(path + f"/date={d}/*.parquet")) == 1
    back = spark.read.parquet(path)
    assert back.count() == 3_000
    assert back.filter(F.col("date") == "1").count() == 1_000
    # no staging/backup left behind after a verified swap
    assert not glob.glob(str(tmp_path / "store.*"))


def test_training_shards_manifest_and_determinism(spark, tmp_path):
    import hashlib
    import os

    df = spark.createDataFrame(
        [(i, f"tok{i} " * (i % 3 + 1)) for i in range(40)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "export")
    m = sinks.write_training_shards(df, root, n_shards=4, fmt="json")
    # manifest totals match the corpus
    assert m["total_rows"] == 40
    assert m["total_tokens"] == sum(i % 3 + 1 for i in range(40))
    assert set(m["shards"]) <= {"0", "1", "2", "3"}
    assert sum(s["n_rows"] for s in m["shards"].values()) == 40
    # shard membership is the md5 device — engine-independent expectation
    def expect_shard(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 4

    back = spark.read.json(os.path.join(root, "data"))
    got = {r.doc_id: int(r.shard) for r in back.collect()}
    assert got == {i: expect_shard(i) for i in range(40)}
    # persisted manifest file round-trips
    with open(os.path.join(root, "_MANIFEST.json")) as fh:
        assert json.load(fh) == m
    # one data file per shard directory (single-partition-per-shard write)
    for sh in m["shards"]:
        d = os.path.join(root, "data", f"shard={sh}")
        files = [f for f in os.listdir(d) if f.endswith(".json")]
        assert len(files) == 1, (sh, files)
    # re-export reproduces identical shard membership + manifest
    m2 = sinks.write_training_shards(df, root, n_shards=4, fmt="json")
    assert m2 == m


def test_delete_where_touches_only_matching_partitions(spark, tmp_path):
    import os

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, i % 4, f"d{i % 3}") for i in range(60)],
        "id long, user long, day string",
    )
    sinks.merge_into_partitioned(df, path, keys=["id"], partition_col="day")
    # snapshot untouched partition's file listing + mtimes
    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    # user 1 appears only in days where id%4==1; delete them
    before_all = spark.read.parquet(path).count()
    # pick a partition that contains NO user-1 rows? user 1 rows exist in
    # every day here, so craft one: day 'clean' without user 1
    extra = spark.createDataFrame(
        [(100, 2, "clean"), (101, 3, "clean")], "id long, user long, day string"
    )
    sinks.merge_into_partitioned(extra, path, keys=["id"], partition_col="day")
    clean_before = files_of("clean")
    n = sinks.delete_where(
        spark, path, F.col("user") == 1, partition_col="day"
    )
    assert n == 15  # 60 rows, user==1 for id%4==1
    back = spark.read.parquet(path)
    assert back.filter("user = 1").count() == 0
    assert back.count() == before_all + 2 - n
    # the partition without matches was not rewritten
    assert files_of("clean") == clean_before
    # deleting a non-existent subject is a no-op returning 0
    assert sinks.delete_where(
        spark, path, F.col("user") == 999, partition_col="day"
    ) == 0


def test_delete_where_fully_matching_partition_and_nulls(spark, tmp_path):
    # Review regressions: (1) a partition whose rows ALL match must be
    # emptied (dynamic overwrite alone cannot rewrite an empty
    # partition); (2) a NULL predicate result must KEEP the row (SQL
    # DELETE semantics), not delete it.
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [
            (1, 1, "d0"), (2, 1, "d0"),          # d0: all match user=1
            (3, 1, "d1"), (4, 2, "d1"),          # d1: mixed
            (5, None, "d1"),                      # NULL user: must stay
            (6, 3, "d2"),                         # d2: untouched
        ],
        "id long, user long, day string",
    )
    sinks.merge_into_partitioned(df, path, keys=["id"], partition_col="day")
    n = sinks.delete_where(
        spark, path, F.col("user") == 1, partition_col="day"
    )
    assert n == 3  # ids 1, 2, 3 — NOT the NULL row
    back = spark.read.parquet(path)
    assert sorted(r.id for r in back.collect()) == [4, 5, 6]
    import os

    assert not os.path.exists(os.path.join(path, "day=d0"))  # emptied


def test_merge_into_partitioned_null_partition_preserved(spark, tmp_path):
    # Review regression (reproduced): existing rows in the NULL partition
    # must survive a merge that touches that partition.
    path = str(tmp_path / "store")
    first = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", None)], "k long, v string, date string"
    )
    sinks.merge_into_partitioned(first, path, keys=["k"], partition_col="date")
    new = spark.createDataFrame([(3, "c", None)], "k long, v string, date string")
    sinks.merge_into_partitioned(new, path, keys=["k"], partition_col="date")
    got = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_delete_where_null_partition_rows(spark, tmp_path):
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, 1, None), (2, 2, None), (3, 1, "d1")],
        "id long, user long, date string",
    )
    sinks.merge_into_partitioned(df, path, keys=["id"], partition_col="date")
    n = sinks.delete_where(spark, path, F.col("user") == 1, "date")
    assert n == 2  # the null-partition subject row is found and purged
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [2]


def _tree_bytes(root):
    """Every file under ``root``, by relative path, with its bytes."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_training_shards_null_doc_id_rejected(spark, tmp_path):
    # a rejected export must leave the last good one, manifest included,
    # byte for byte as it was
    root = str(tmp_path / "x")
    good = spark.createDataFrame(
        [(2, "good text"), (3, "more good text")], "doc_id long, text string"
    )
    sinks.write_training_shards(good, root, n_shards=2)
    before = _tree_bytes(root)
    df = spark.createDataFrame(
        [(None, "some text"), (1, "more text")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="null doc ids"):
        sinks.write_training_shards(df, root, n_shards=2)
    assert _tree_bytes(root) == before
    assert not os.path.exists(root + sinks._STAGING)


# --- crash windows of the staged rename-swap commit -----------------------
#
# Each site is (build, op, store, whole, snapshot): build(spark, root)
# writes the state the operation starts from under root, op(spark, root)
# runs it, store is the committed directory relative to root, whole says
# whether the commit swaps the whole store or named subdirs of it, and
# snapshot(spark, store) is what an uninterrupted run must match.


def _merge_build(spark, root):
    days = _mk(spark, [(ts(d, 0), float(d)) for d in (1, 2, 3)])
    sinks.merge_into_partitioned(
        days, f"{root}/store", keys=["datetime"], partition_col="date"
    )


def _merge_op(spark, root):
    # a correction for day 1 and a new hour on day 2: two partitions
    new = _mk(spark, [(ts(1, 0), 10.0), (ts(2, 1), 20.0)])
    sinks.merge_into_partitioned(
        new, f"{root}/store", keys=["datetime"], partition_col="date"
    )


def _delete_build(spark, root):
    spark.createDataFrame(
        [(1, 1, "d0"), (2, 1, "d0"), (3, 1, "d1"), (4, 2, "d1"), (5, 3, "d2")],
        "id long, user long, day string",
    ).write.partitionBy("day").parquet(f"{root}/store")


def _delete_op(spark, root):
    # empties day=d0, shrinks day=d1
    sinks.delete_where(spark, f"{root}/store", F.col("user") == 1, "day")


def _promote_build(spark, root):
    df = spark.createDataFrame([(1,), (2,)], "x long")
    sinks.promote_overwrite(df, f"{root}/store")


def _promote_op(spark, root):
    df = spark.createDataFrame([(3,)], "x long")
    sinks.promote_overwrite(df, f"{root}/store")


def _compact_build(spark, root):
    spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("date"), "id"
    ).repartition(4).write.partitionBy("date").parquet(f"{root}/store")


def _compact_op(spark, root):
    sinks.compact_parquet(spark, f"{root}/store")


def _tick(spark, root, t):
    rows = [(t * 10 + i, f"t{t} w{i} x y z") for i in range(3)]
    rows.append((t * 10 + 3, "a b c d"))  # repeats tick 0's first doc
    apply_substring_dedup_batch(
        spark.createDataFrame(rows, "doc_id long, text string"),
        t, f"{root}/index", f"{root}/out", window=3,
    )


def _gram_build(spark, root):
    for t in range(4):
        _tick(spark, root, t)


def _gram_compact_op(spark, root):
    # merges grams_0..grams_2 into grams_2; grams_3 is past the bound.
    # After a crash once the merged shard is in, the two restored
    # sources sit beside it and the rerun merges all three again
    assert compact_gram_index(spark, f"{root}/index", upto_batch_id=3) == 3


def _tick_build(spark, root):
    for t in range(2):
        _tick(spark, root, t)


def _tick_op(spark, root):
    # the tick commits its gram shard, then its docs: a crash in the
    # gram commit leaves docs_2 unwritten, as the build has it
    _tick(spark, root, 2)


def _snapshot(spark, store):
    rows = sorted(map(repr, spark.read.parquet(store).collect()))
    files = {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(store, d)))
        for d in os.listdir(store)
        if "=" in d
    }
    return rows, files


def _gram_snapshot(spark, store):
    """The loaded gram set, the shard names and the deduped docs."""
    docs = os.path.join(os.path.dirname(store), "out", "docs_*")
    return (
        sorted(r.w for r in load_gram_index(spark, store).collect()),
        sorted(os.listdir(store)),
        sorted(map(repr, spark.read.parquet(docs).collect())),
    )


_SITES = {
    "merge_two_dates": (_merge_build, _merge_op, "store", False, _snapshot),
    "delete_empties_partition": (
        _delete_build, _delete_op, "store", False, _snapshot
    ),
    "promote_overwrite": (_promote_build, _promote_op, "store", True, _snapshot),
    "compact_parquet": (_compact_build, _compact_op, "store", True, _snapshot),
    "compact_gram_index": (
        _gram_build, _gram_compact_op, "index", False, _gram_snapshot
    ),
    "dedup_tick": (_tick_build, _tick_op, "index", False, _gram_snapshot),
}
# the states a commit can stop in, in the order it passes them:
# staged      - the new data is in staging, nothing live has moved
# backing_up  - the first replaced dir is in the backup
# backed_up   - every replaced dir is in the backup, none swapped in
# swapping    - the first staged dir is in place
# swapped     - every staged dir is in place, the backup not yet dropped
_WINDOWS = {
    "merge_two_dates": ("staged", "backing_up", "backed_up", "swapping", "swapped"),
    # one staged dir (day=d1): swapping is swapped
    "delete_empties_partition": ("staged", "backing_up", "backed_up", "swapped"),
    # one replaced dir (the store): backing_up is backed_up, swapping is swapped
    "promote_overwrite": ("staged", "backed_up", "swapped"),
    "compact_parquet": ("staged", "backed_up", "swapped"),
    # one staged dir (the merged shard): swapping is swapped
    "compact_gram_index": ("staged", "backing_up", "backed_up", "swapped"),
    # a new shard: nothing to back up, one staged dir
    "dedup_tick": ("staged", "backed_up", "swapped"),
}


def _listing(d):
    return sorted(os.listdir(d)) if os.path.isdir(d) else None


def _leave_crash_state(store, after, whole, window):
    """Lay out by hand what a commit of ``store`` towards ``after`` leaves
    when the process dies in ``window``."""
    staging, backup = store + sinks._STAGING, store + sinks._BACKUP
    if whole:
        names = [sinks._WHOLE_STORE]
        shutil.copytree(after, staging)

        def paths(name):
            return store, staging, os.path.join(backup, name)

    else:
        names = sorted(
            d
            for d in set(os.listdir(store)) | set(os.listdir(after))
            if _listing(os.path.join(store, d))
            != _listing(os.path.join(after, d))
        )
        os.makedirs(staging)
        for n in names:
            if os.path.isdir(os.path.join(after, n)):
                shutil.copytree(os.path.join(after, n), os.path.join(staging, n))

        def paths(name):
            return (
                os.path.join(store, name),
                os.path.join(staging, name),
                os.path.join(backup, name),
            )

    staged = [n for n in names if os.path.exists(paths(n)[1])]
    moved = {"staged": 0, "backing_up": 1}.get(window, len(names))
    swapped = {"swapping": 1, "swapped": len(staged)}.get(window, 0)
    os.makedirs(backup)
    for n in names[:moved]:
        live, _, backed = paths(n)
        if os.path.exists(live):
            os.rename(live, backed)
    for n in staged[:swapped]:
        live, stage, _ = paths(n)
        os.rename(stage, live)


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """Per site: (root before the operation, root after an uninterrupted
    run of it), built once."""
    runs = {}

    def get(site):
        if site not in runs:
            build, op = _SITES[site][:2]
            base = tmp_path_factory.mktemp(site)
            before, after = str(base / "before"), str(base / "after")
            build(spark, before)
            shutil.copytree(before, after)
            op(spark, after)
            runs[site] = before, after
        return runs[site]

    return get


@pytest.mark.parametrize(
    "site,window", [(s, w) for s, ws in _WINDOWS.items() for w in ws]
)
def test_commit_crash_window_recovers(
    spark, tmp_path, uninterrupted, site, window
):
    """A process killed in any window of a commit leaves a state from
    which rerunning the same operation yields the uninterrupted store."""
    _, op, rel, whole, snapshot = _SITES[site]
    before, after = uninterrupted(site)
    root = str(tmp_path / "root")
    shutil.copytree(before, root)
    store = os.path.join(root, rel)
    _leave_crash_state(store, os.path.join(after, rel), whole, window)
    if snapshot is _gram_snapshot:
        # recovery alone leaves the gram index loading as the old or the
        # new set: a compaction's sources restored beside its merged
        # shard are a superset that loads as the same set
        sinks._recover(store)
        grams = snapshot(spark, store)[0]
        assert grams in (
            snapshot(spark, os.path.join(before, rel))[0],
            snapshot(spark, os.path.join(after, rel))[0],
        )
    op(spark, root)
    assert snapshot(spark, store) == snapshot(spark, os.path.join(after, rel))
    assert not os.path.exists(store + sinks._STAGING)
    assert not os.path.exists(store + sinks._BACKUP)
