"""Metric definitions and the arithmetic behind them.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced operations of a ``--trace 1`` run. ``PER_LAYER`` is the single
list of per-layer metrics: every traced run prints all of them, and a
layer a workload never enters reads 0. ``moves`` and ``on`` record which
end-to-end metric a change to that layer should move, on which workload.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "peak_rss_mb": "MB",
}

# name -> (unit, how it is computed, moves, on)
#   ("self", L)   summed self time of spans in layer L (and its sub-layers)
#   ("incl", N)   inclusive time of spans whose name starts with N
#   ("jobs", N) / ("tasks", N)   Spark jobs / completed tasks under spans
#                 whose layer or name starts with N
#   ("counter", K)  a counter the workload or worker measured
PER_LAYER = {
    "session.get_spark_s": ("s", ("counter", "get_spark_s"), "setup_s", "all"),
    "sources.normalize_s": ("s", ("incl", "sources.json_payloads.normalize_"), "first_op_s", "daily_cron"),
    "sources.spark_jobs": ("count", ("jobs", "sources"), "first_op_s", "daily_cron"),
    "plans.ingest.merge_all_sources_s": ("s", ("incl", "plans.ingest.merge_all_sources"), "first_op_s", "daily_cron"),
    "plans.ingest.spark_jobs": ("count", ("jobs", "plans.ingest"), "first_op_s", "daily_cron"),
    "plans.features.incremental_feature_run_s": ("s", ("incl", "plans.features.incremental_feature_run"), "first_op_s", "daily_cron"),
    "plans.features.spark_jobs": ("count", ("jobs", "plans.features"), "first_op_s", "daily_cron"),
    "plans.features.delta_rows": ("rows", ("counter", "delta_rows"), "first_op_s", "daily_cron"),
    "operators.asof_s": ("s", ("self", "operators.asof"), "first_op_s", "daily_cron"),
    "operators.merge_s": ("s", ("self", "operators.merge"), "first_op_s", "daily_cron"),
    "operators.incremental_s": ("s", ("self", "operators.incremental"), "first_op_s", "daily_cron"),
    "operators.graph_s": ("s", ("self", "operators.graph"), "first_op_s", "analytics_mix"),
    "operators.graph.spark_jobs": ("count", ("jobs", "operators.graph"), "first_op_s", "analytics_mix"),
    "operators.prefix_s": ("s", ("self", "operators.prefix"), "first_op_s", "analytics_mix"),
    "operators.rolling_s": ("s", ("self", "operators.rolling"), "first_op_s", "analytics_mix"),
    "operators.behavior_s": ("s", ("self", "operators.behavior"), "first_op_s", "analytics_mix"),
    "operators.market_s": ("s", ("self", "operators.market"), "first_op_s", "analytics_mix"),
    "operators.skew_s": ("s", ("self", "operators.skew"), "first_op_s", "analytics_mix"),
    "functions.temporal_s": ("s", ("self", "functions.temporal"), "first_op_s", "daily_cron"),
    "functions.interact_s": ("s", ("self", "functions.interact"), "first_op_s", "daily_cron"),
    "functions.text_s": ("s", ("self", "functions.text"), "first_op_s", "analytics_mix"),
    "functions.dedup_s": ("s", ("self", "functions.dedup"), "first_op_s", "daily_cron"),
    # the functions.dedup kernels only build plans; their tasks run under
    # the streaming dedup tick that executes them
    "streaming.dedup.spark_tasks": ("count", ("tasks", "streaming.dedup"), "first_op_s", "daily_cron"),
    "functions.dedup.removed_per_planted": ("ratio", ("counter", "removed_per_planted"), "correctness guard", "daily_cron"),
    "functions.sketches_s": ("s", ("self", "functions.sketches"), "first_op_s", "analytics_mix"),
    "functions.quality_s": ("s", ("self", "functions.quality"), "first_op_s", "analytics_mix"),
    "functions.similarity_s": ("s", ("self", "functions.similarity"), "first_op_s", "analytics_mix"),
    "tables.load_table_s": ("s", ("incl", "tables.load_table"), "first_op_s", "analytics_mix"),
    "sinks.merge_into_partitioned_s": ("s", ("incl", "sinks.merge_into_partitioned"), "first_op_s", "daily_cron"),
    "sinks.merge_into_partitioned.spark_jobs": ("count", ("jobs", "sinks.merge_into_partitioned"), "first_op_s", "daily_cron"),
    "sinks.promote_overwrite_s": ("s", ("incl", "sinks.promote_overwrite"), "first_op_s", "daily_cron"),
    "sinks.export_csv_s": ("s", ("incl", "sinks.export_csv"), "first_op_s", "daily_cron"),
    "sinks.bytes_written": ("bytes", ("counter", "bytes_written"), "first_op_s", "daily_cron"),
    "sinks.files_written": ("count", ("counter", "files_written"), "first_op_s", "daily_cron"),
    "sinks.write_amplification": ("ratio", ("counter", "write_amplification"), "first_op_s", "daily_cron"),
    "streaming.drain_s": ("s", ("incl", "streaming.drain"), "first_op_s", "daily_cron"),
    "streaming.queryPlanning_ms": ("ms", ("counter", "queryPlanning_ms"), "first_op_s", "daily_cron"),
    "streaming.addBatch_ms": ("ms", ("counter", "addBatch_ms"), "first_op_s", "daily_cron"),
    "streaming.walCommit_ms": ("ms", ("counter", "walCommit_ms"), "first_op_s", "daily_cron"),
    "streaming.state_bytes": ("bytes", ("counter", "state_bytes"), "first_op_s", "daily_cron"),
    "streaming.state_files": ("count", ("counter", "state_files"), "first_op_s", "daily_cron"),
    "queries.build_s": ("s", ("incl", "queries.build"), "first_op_s", "analytics_mix"),
    "queries.exec_s": ("s", ("incl", "queries.exec"), "first_op_s", "analytics_mix"),
    "queries.spark_jobs": ("count", ("jobs", "queries"), "first_op_s", "analytics_mix"),
    "driver.py4j_calls": ("count", ("counter", "py4j_calls"), "first_op_s", "analytics_mix daily_cron"),
    "spark.jobs": ("count", ("jobs", "op"), "first_op_s", "all"),
    "spark.tasks": ("count", ("tasks", "op"), "first_op_s", "all"),
    "trace.uncovered_frac": ("ratio", ("counter", "uncovered_frac"), "span coverage", "all"),
    "trace.overhead_s": ("s", ("counter", "overhead_s"), "traced minus untraced warm operation", "all"),
}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(spans: list[dict], n_ops: int, counters: dict[str, float]) -> dict[str, float]:
    """Per-operation averages of every ``PER_LAYER`` metric over the traced
    operations' spans (dicts as written to the spans file)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def self_time(s):
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        return (s["end"] - s["start"]) - _covered(kids, s["start"], s["end"])

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x["id"], []))
        return out

    def matches(s, key):
        name, layer = s["name"], s["layer"]
        return (
            name == key or name.startswith(key + ".")
            or (key.endswith("_") and name.startswith(key))
            or layer == key or layer.startswith(key + ".")
        )

    def outermost(key):
        """Matching spans with no matching ancestor (no double counting)."""
        out = []
        for s in spans:
            if not matches(s, key):
                continue
            p = by_id.get(s["parent"])
            while p is not None and not matches(p, key):
                p = by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    out: dict[str, float] = {}
    for name, (_unit, (kind, key), _moves, _on) in PER_LAYER.items():
        if kind == "counter":
            out[name] = float(counters.get(key, 0.0))
            continue
        if kind == "self":
            v = sum(self_time(s) for s in spans if matches(s, key) and s["layer"] != "op")
        elif kind == "incl":
            v = sum(s["end"] - s["start"] for s in outermost(key))
        else:
            field = "spark_jobs" if kind == "jobs" else "spark_tasks"
            v = sum(x[field] for s in outermost(key) for x in subtree(s))
        out[name] = v / n_ops if n_ops else 0.0
    return out


def uncovered_fraction(spans: list[dict]) -> float:
    """Share of the traced operations' time that no named span covers."""
    roots = [s for s in spans if s["layer"] == "op"]
    total = sum(r["end"] - r["start"] for r in roots)
    if not total:
        return 0.0
    covered = 0.0
    for r in roots:
        kids = [(s["start"], s["end"]) for s in spans if s["parent"] == r["id"]]
        covered += _covered(kids, r["start"], r["end"])
    return 1.0 - covered / total
