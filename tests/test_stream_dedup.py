"""Incremental substring dedup across cron ticks: drain wave 1, land
more docs, drain wave 2 — the union of per-batch outputs must equal the
corpus-wide q99 dedup on all docs (first-arrival == global keep-first
when ids are assigned in arrival order), and replaying a batch must
replace, not duplicate, its output and gram shard."""

from __future__ import annotations

from big_data_project_datapipeline_spark.functions.dedup import (
    exact_substring_dedup,
)
from big_data_project_datapipeline_spark.streaming.dedup import (
    apply_substring_dedup_batch,
    load_gram_index,
    stream_substring_dedup,
)

WAVE1 = [
    (1, "a b c d e f"),      # owns "a b c"
    (2, "q r s t u v"),
]
WAVE2 = [
    (3, "a b c x y z"),      # "a b c" seen in wave 1 -> scrubbed
    (4, "x y z x y z x y"),  # internal repeat, first occurrence kept
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _out_rows(spark, out_dir):
    return {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in spark.read.parquet(f"{out_dir}/docs_*").collect()
    }


def test_incremental_equals_global_dedup(spark, tmp_path):
    docs = str(tmp_path / "docs")
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    w = 3

    _mk(spark, WAVE1).write.mode("append").parquet(docs)
    q = stream_substring_dedup(spark, docs, index, out, cp, window=w)
    q.awaitTermination(120)
    _mk(spark, WAVE2).write.mode("append").parquet(docs)
    q = stream_substring_dedup(spark, docs, index, out, cp, window=w)
    q.awaitTermination(120)

    got = _out_rows(spark, out)
    want = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in exact_substring_dedup(
            _mk(spark, WAVE1 + WAVE2), window=w
        ).collect()
    }
    assert got == want
    # the index holds every gram ever seen (not only duplicated ones)
    assert load_gram_index(spark, index).count() > 0
    # doc 3's leading span was scrubbed against wave-1 state
    assert got[3][2] == "x y z"


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may re-run a batch after a crash: the same batch_id
    must swap in its own subdirs, leaving identical state."""
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")

    apply_substring_dedup_batch(_mk(spark, WAVE1), 0, index, out, window=3)
    first = _out_rows(spark, out)
    n_grams = load_gram_index(spark, index).count()

    apply_substring_dedup_batch(_mk(spark, WAVE1), 0, index, out, window=3)
    assert _out_rows(spark, out) == first
    assert load_gram_index(spark, index).count() == n_grams


# ----------------- many ticks: the index stays bounded by the tick's own compaction


def _tick_docs(base_id, n=4):
    """Deterministic per-tick corpus: each tick contributes fresh grams
    plus one doc repeating tick 0's opening span (a cross-tick dup)."""
    rows = []
    for i in range(n):
        d = base_id * 100 + i
        if i == n - 1:
            rows.append((d, "a b c d e f"))  # tick-0 span, always dup
        else:
            rows.append((d, f"t{base_id} w{i} x{i} y{i} z{i} k{i}"))
    return rows


def test_fifty_tick_run_store_bounded_under_compaction(spark, tmp_path):
    """50 direct ticks with no compaction scheduled by the caller — every
    compaction comes from a tick's entry. (a) The shard count stays at
    most ``_MAX_SHARDS + 1`` instead of growing O(ticks); (b) the index
    holds exactly the distinct window-grams of every doc seen (no loss,
    no invention); (c) the union of the per-tick outputs equals the
    corpus-wide q99 dedup of all 50 ticks' docs (ids rise with arrival
    order); (d) replaying the latest tick after the compactions gives
    the same outputs."""
    import os

    from big_data_project_datapipeline_spark.streaming.dedup import (
        _MAX_SHARDS,
    )

    w = 3
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    rows = []
    max_shards = 0
    for t in range(50):
        rows += _tick_docs(t)
        apply_substring_dedup_batch(
            _mk(spark, _tick_docs(t)), t, idx, out, window=w
        )
        max_shards = max(max_shards, len(os.listdir(idx)))
    # (a) bounded by the tick's compaction, vs 50 uncompacted shards
    assert max_shards <= _MAX_SHARDS + 1, max_shards
    # (b) the gram population of the union
    want_grams = {
        " ".join(toks[i : i + w])
        for _, text in rows
        for toks in [text.lower().split()]
        for i in range(len(toks) - w + 1)
    }
    got_grams = {r["w"] for r in load_gram_index(spark, idx).collect()}
    assert got_grams == want_grams
    # (c) first arrival wins == global keep-first over the union
    want = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in exact_substring_dedup(_mk(spark, rows), window=w).collect()
    }
    got = _out_rows(spark, out)
    assert got == want
    # (d) replay of the latest tick against the compacted index
    apply_substring_dedup_batch(
        _mk(spark, _tick_docs(49)), 49, idx, out, window=w
    )
    assert _out_rows(spark, out) == want
