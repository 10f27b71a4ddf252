"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_cron --seed 1 --seconds 1 --trace 0

Generates the workload's inputs from ``--seed``, then runs the engine in
one ``measure`` child process, timed from spawn to a ready session
(``setup_s``), that runs a cold first operation (``first_op_s``) and more
until ``--seconds`` have passed, checking every output. The last stdout
line is one JSON object with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``, taken from warm operations).
Exits non-zero when any output is wrong or any operation fails.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import workloads  # noqa: E402

BUDGET_S = 170.0  # every run must end within 180 s


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def child_env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        # the session defaults to local[32]; pin it to this machine
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        ),
        # keep the JVM's scratch files inside the checkout
        "SPARK_SUBMIT_OPTS": " ".join(
            p for p in (env.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


class Child:
    """One worker process in its own process group, timed from spawn to
    its ready signal."""

    def __init__(self, mode: str, args: list[str], work: str, env: dict, deadline: float):
        self.deadline = deadline
        self.setup_s: float | None = None
        self._ready_r, w = os.pipe()
        self.log_path = os.path.join(work, f"{mode}-{time.monotonic_ns()}.log")
        self.log = open(self.log_path, "w")
        self._t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
             "--ready-fd", str(w), *args],
            stdin=subprocess.DEVNULL, stdout=self.log, stderr=subprocess.STDOUT,
            cwd=work, env=env, pass_fds=(w,), start_new_session=True,
        )
        os.close(w)

    def wait(self) -> int:
        """Time the ready signal, then wait for exit; the process group is
        gone when this returns, whatever happened."""
        r = self._ready_r
        try:
            ready, _, _ = select.select([r], [], [], max(self.deadline - time.monotonic(), 0))
            if ready and os.read(r, 1):
                self.setup_s = time.perf_counter() - self._t0
            return self.proc.wait(timeout=max(self.deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            return -1
        finally:
            os.close(r)
            self.kill()
            self.log.close()

    def kill(self) -> None:
        """Stop the whole group (the JVM and its Python workers too) and
        wait until it is gone."""
        pgid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            end = time.monotonic() + 5
            while time.monotonic() < end:
                try:
                    os.killpg(pgid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.05)
        try:
            self.proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            pass

    def tail(self, n: int = 30) -> str:
        with open(self.log_path) as fh:
            return "".join(fh.readlines()[-n:])


def run_child(mode, args, work, env, deadline) -> Child:
    c = Child(mode, args, work, env, deadline)
    rc = c.wait()
    if rc != 0 or c.setup_s is None:
        log(f"{mode} child failed (exit {rc}):\n{c.tail()}")
        raise SystemExit(2)
    return c


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    args = ap.parse_args()
    # a terminated run still stops its children (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + BUDGET_S
    for need in ("big_data_project_datapipeline_spark/session.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"engine not found: {need} is missing under {ROOT}")
            return 2

    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        return _run(args, work, inputs, base, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, inputs, base, deadline) -> int:
    env = child_env(work)
    wl_cls = workloads.WORKLOADS[args.workload]
    sizes = wl_cls.generate(inputs, args.seed, args.size)
    log(f"workload={args.workload} seed={args.seed} size={args.size} inputs={json.dumps(sizes)}")
    common = ["--workload", args.workload, "--seed", str(args.seed),
              "--size", args.size, "--work", work, "--inputs", inputs]
    if args.workload == "daily_cron" and not os.path.isdir(
        workloads.cron_template_dir(args.size)
    ):
        log("building the daily_cron history template for this checkout")
        run_child("template", common, work, env, deadline)
    result_path = os.path.join(work, "result.json")
    m = run_child("measure", [*common, "--seconds", str(args.seconds),
                              "--trace", str(args.trace), "--result", result_path],
                  work, env, deadline)
    with open(result_path) as fh:
        res = json.load(fh)

    ops = res["ops"]
    failed = [o for o in ops if o["error"]]
    wrong = [o for o in ops if o["problems"]]
    for o in failed[:3]:
        log(f"op {o['i']} raised:\n{o['error']}")
    for o in wrong[:3]:
        log(f"op {o['i']} wrong output: {o['problems'][:3]}")
    for p in res["final_problems"]:
        log(f"final check: {p}")
    wrong_outputs = len(wrong) + bool(res["final_problems"])
    log(f"env {json.dumps(res['env'])}")
    if res["swaps"]:
        log(f"query swaps {json.dumps(res['swaps'])}")
    log(f"ops attempted={len(ops)} failed={len(failed)} wrong_outputs={wrong_outputs}")
    log("op seconds " + " ".join(f"{o['i']}:{o['t']:.3f}" for o in ops))

    if args.trace:
        values = res["layers"]
        units = {k: v[0] for k, v in metrics.PER_LAYER.items()}
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        spans_path = os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump(res["spans"], fh)
        log(f"spans written to {spans_path}")
        for k, v in values.items():
            log(f"  {k:44s} {v:14.6f} {units[k]}")
    else:
        units = metrics.END_TO_END
        values = {
            "setup_s": m.setup_s,
            "first_op_s": ops[0]["t"],
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        }
    correct = wrong_outputs == 0 and not failed
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
