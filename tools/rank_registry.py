"""Rank every registry query by its driver-side build cost, in one session.

Usage: python tools/rank_registry.py <sf_dir> [query ...]

For each query of ``__spark_entry__.queries()`` (or only those named) it
builds the frame, then executes it into a noop sink, and prints one
line: build seconds, py4j round trips during the build, Spark jobs the
build ran, stages that read a Python RDD (a ``createDataFrame`` of a
Python list), and stages that run Python code at all (Python-RDD reads
plus pandas/Arrow UDF operators: each of those starts a Python worker).
Stages are classified from the session's event log, which is written to
a temporary directory, read after the session stops, then removed. A summary
follows: the top 10 queries by build seconds and the queries that start
a Python worker. The first query built also pays the session's cold
start (JVM class loading and JIT warm-up), so its build seconds are an
upper bound.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from big_data_project_datapipeline_spark.session import get_spark

# RDD scope names of the physical operators that run Python code
# (ArrowEvalPython, FlatMapGroupsInPandas, MapInPandas, PythonMapInArrow…)
_PYTHON_SCOPE_MARKS = ("Python", "Pandas", "InArrow")


def _stage_kinds(event_dir: str) -> dict[str, list[int]]:
    """Job group → [stages reading a Python RDD, stages running Python]."""
    out: dict[str, list[int]] = {}
    for path in glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                if e["Event"] != "SparkListenerJobStart":
                    continue
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                counts = out.setdefault(group, [0, 0])
                for stage in e["Stage Infos"]:
                    rdds = stage["RDD Info"]
                    scopes = [
                        json.loads(r["Scope"])["name"] for r in rdds if r.get("Scope")
                    ]
                    py_rdd = any(r["Name"] == "PythonRDD" for r in rdds)
                    py_op = any(
                        m in s for s in scopes for m in _PYTHON_SCOPE_MARKS
                    )
                    counts[0] += py_rdd
                    counts[1] += py_rdd or py_op
    return out


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    event_dir = tempfile.mkdtemp(prefix="rank_registry_events_")
    spark = get_spark(
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{event_dir}",
            "spark.eventLog.compress": "false",
        }
    )
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting_send(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    registry = entrymod.queries()
    rows = []
    for name in names or list(registry):
        sc.setJobGroup(f"build:{name}", name)
        calls[0] = 0
        t0 = time.perf_counter()
        error = ""
        try:
            df = registry[name](spark, sf_dir)
            build_s = time.perf_counter() - t0
            py4j = calls[0]
            sc.setJobGroup(f"exec:{name}", name)
            df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 — report and go on
            build_s, py4j = time.perf_counter() - t0, calls[0]
            error = type(exc).__name__
        build_jobs = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
        rows.append([name, build_s, py4j, build_jobs, error])
        print(f"built {name} {build_s:.2f}s {error}", file=sys.stderr, flush=True)
    del client.send_command
    spark.stop()

    kinds = _stage_kinds(event_dir)
    shutil.rmtree(event_dir)
    print("query\tbuild_s\tpy4j_calls\tbuild_jobs\tpyrdd_stages\tpython_stages\terror")
    for row in rows:
        name = row[0]
        b, e = kinds.get(f"build:{name}", [0, 0]), kinds.get(f"exec:{name}", [0, 0])
        row[4:4] = [b[0] + e[0], b[1] + e[1]]
        print(f"{name}\t{row[1]:.3f}\t{row[2]}\t{row[3]}\t{row[4]}\t{row[5]}\t{row[6]}")
    print("\ntop 10 by build seconds:")
    for row in sorted(rows, key=lambda r: -r[1])[:10]:
        print(f"  {row[0]}\t{row[1]:.3f}s\t{row[2]} py4j\t{row[3]} jobs")
    print("\nqueries that start a Python worker (Python-RDD stages, Python stages):")
    for row in rows:
        if row[5]:
            print(f"  {row[0]}\t{row[4]}\t{row[5]}")


if __name__ == "__main__":
    main()
