"""The measuring process. ``run.py`` starts it and times it from process
start to the ready signal (written to the file descriptor given as
``--ready-fd``) right after ``session.get_spark()`` returns.

Modes:
  template  build the daily cron's pre-written history for this checkout
  measure   run one workload and write its results as JSON
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _fs_snapshot(dirs: list[str]) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime, inode) of every file under ``dirs``."""
    snap = {}
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                p = os.path.join(base, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return snap


def _written(before: dict, after: dict, under: tuple[str, ...] = ("",)) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two snapshots, counting
    only paths that start with one of ``under``."""
    changed = [
        p for p, v in after.items() if before.get(p) != v and p.startswith(under)
    ]
    return len(changed), sum(after[p][0] for p in changed)


def measure(args, spark, get_spark_s: float) -> dict:
    import metrics
    import workloads
    from tracing import Tracer

    tracer = Tracer(spark) if args.trace else None
    active = {"on": False}

    def span(name, layer):
        return tracer.span(name, layer) if active["on"] else contextlib.nullcontext()

    wl = workloads.WORKLOADS[args.workload](
        args.work, args.inputs, args.seed, args.size, span
    )
    wl.start(spark)
    ops: list[dict] = []
    spans: list = []
    extra_groups: dict[int, list[str]] = {}
    sums = {k: 0.0 for k in ("bytes_written", "files_written", "new_bytes",
                             "delta_rows", "store_bytes_written",
                             "queryPlanning_ms", "addBatch_ms",
                             "walCommit_ms")}

    def run_op(i: int, traced: bool) -> None:
        wl.prepare(i)
        rec = {"i": i, "traced": traced, "problems": [], "error": None}
        snap = rows = None
        if traced:
            snap = _fs_snapshot(wl.output_dirs())
            rows = _store_rows(wl)
            n_prog = len(getattr(wl, "progress", []))
            tracer.install()
            tracer.op = i
            active["on"] = True
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("op", "op"):
                    wl.op(i)
            else:
                wl.op(i)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            rec["error"] = traceback.format_exc(limit=8)
        rec["t"] = time.perf_counter() - t0
        if traced:
            active["on"] = False
            tracer.uninstall()
            op_spans = [s for s in tracer.spans if s.op == i]
            drains = [s for s in op_spans if s.name == "streaming.drain"]
            if drains:
                extra_groups[drains[0].id] = list(getattr(wl, "last_run_ids", []))
            tracer.attribute_jobs(op_spans, extra_groups)
            spans.extend(op_spans)
            after = _fs_snapshot(wl.output_dirs())
            n, b = _written(snap, after)
            sums["files_written"] += n
            sums["bytes_written"] += b
            rows_after = _store_rows(wl)
            if rows and rows_after:
                sums["store_bytes_written"] += _written(
                    snap, after, (wl.store + os.sep, wl.features + os.sep)
                )[1]
                new_rows = rows_after["store"] - rows["store"]
                per_row = rows_after["store_bytes"] / max(rows_after["store"], 1)
                sums["new_bytes"] += new_rows * per_row
                sums["delta_rows"] += rows_after["features"] - rows["features"]
            for p in getattr(wl, "progress", [])[n_prog:]:
                for k in ("queryPlanning", "addBatch", "walCommit"):
                    sums[f"{k}_ms"] += p.get("durationMs", {}).get(k, 0)
        if rec["error"] is None:
            try:
                rec["problems"] = wl.check(i)
            except Exception:  # noqa: BLE001 - a check that crashes is a failed check
                rec["problems"] = [traceback.format_exc(limit=4)]
        ops.append(rec)

    # the cold first operation, then more until --seconds have passed;
    # traced runs go on with warm operations, alternating traced and
    # untraced (at least one of each, ending untraced)
    start = time.perf_counter()
    run_op(0, traced=False)
    i = 1
    while time.perf_counter() - start < args.seconds or (
        args.trace and (i < 3 or i % 2 == 0)
    ):
        run_op(i, traced=bool(args.trace) and i % 2 == 1)
        i += 1
    result = {
        "ops": ops,
        "final_problems": wl.finish(),
        "peak_rss_kb": _status_kb("self", "VmHWM")
        + _status_kb(spark.sparkContext._gateway.proc.pid, "VmHWM"),
        "env": {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            **{k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        },
        "swaps": getattr(wl, "swaps", {}),
    }
    removed = getattr(wl, "removed", None)
    if args.trace:
        traced_ops = [o for o in ops if o["traced"]]
        n = len(traced_ops)
        span_dicts = [s.as_json() for s in spans]
        counters = {
            "get_spark_s": get_spark_s,
            "py4j_calls": sum(s.py4j for s in spans) / max(n, 1),
            "bytes_written": sums["bytes_written"] / max(n, 1),
            "files_written": sums["files_written"] / max(n, 1),
            "write_amplification": (
                sums["store_bytes_written"] / sums["new_bytes"] if sums["new_bytes"] else 0.0
            ),
            "delta_rows": sums["delta_rows"] / max(n, 1),
            "removed_per_planted": removed[0] / removed[1] if removed and removed[1] else 0.0,
            "uncovered_frac": metrics.uncovered_fraction(span_dicts),
            **{k: sums[k] / max(n, 1) for k in ("queryPlanning_ms", "addBatch_ms", "walCommit_ms")},
        }
        feed = getattr(wl, "feed", None)
        if feed is not None:
            state = _fs_snapshot(feed.state_dirs())
            counters["state_files"] = len(state)
            counters["state_bytes"] = sum(v[0] for v in state.values())
        untraced = [o["t"] for o in ops[1:] if not o["traced"]]
        traced_t = [o["t"] for o in traced_ops]
        if untraced and traced_t:
            counters["overhead_s"] = (
                float(np.median(traced_t) - np.median(untraced))
            )
        result["layers"] = metrics.layer_metrics(span_dicts, n, counters)
        result["spans"] = span_dicts
    return result


def _store_rows(wl) -> dict | None:
    """Store / feature-table row counts and store bytes, from parquet
    footers (daily cron only)."""
    import workloads

    store = getattr(wl, "store", None)
    if store is None:
        return None
    return {
        "store": workloads.footer_rows(store),
        "store_bytes": workloads.footer_bytes(store),
        "features": workloads.footer_rows(os.path.join(wl.features, "features.parquet")),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["template", "measure"], required=True)
    ap.add_argument("--ready-fd", type=int, required=True)
    ap.add_argument("--workload", default="daily_cron")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--work")
    ap.add_argument("--inputs")
    ap.add_argument("--result")
    args = ap.parse_args()

    # the cron CLI's own imports, then its session
    from big_data_project_datapipeline_spark import __main__  # noqa: F401
    from big_data_project_datapipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    get_spark_s = time.perf_counter() - t0
    os.write(args.ready_fd, b"R")
    os.close(args.ready_fd)
    try:
        if args.mode == "template":
            import workloads

            workloads.build_cron_template(spark, args.size)
        elif args.mode == "measure":
            result = measure(args, spark, get_spark_s)
            tmp = args.result + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(result, fh)
            os.replace(tmp, args.result)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
