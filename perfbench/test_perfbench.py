"""Self-test of the benchmark: the metric arithmetic, the generators'
determinism, and one tiny-size run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import gen
import metrics
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def test_layer_metrics_self_time_and_job_attribution():
    spans = [
        {"id": 1, "name": "op", "layer": "op", "parent": None, "start": 0.0,
         "end": 10.0, "spark_jobs": 1, "spark_tasks": 2},
        {"id": 2, "name": "sinks.merge_into_partitioned", "layer": "sinks",
         "parent": 1, "start": 1.0, "end": 9.0, "spark_jobs": 3, "spark_tasks": 6},
        {"id": 3, "name": "sinks.write_partitioned", "layer": "sinks",
         "parent": 2, "start": 2.0, "end": 8.0, "spark_jobs": 2, "spark_tasks": 4},
        {"id": 4, "name": "operators.merge.upsert_keep_last", "layer": "operators.merge",
         "parent": 2, "start": 8.0, "end": 8.5, "spark_jobs": 0, "spark_tasks": 0},
    ]
    m = metrics.layer_metrics(spans, 2, {"py4j_calls": 7.0})
    assert m["sinks.merge_into_partitioned_s"] == pytest.approx(8.0 / 2)
    assert m["sinks.merge_into_partitioned.spark_jobs"] == pytest.approx(5 / 2)
    assert m["operators.merge_s"] == pytest.approx(0.5 / 2)
    assert m["spark.jobs"] == pytest.approx(6 / 2)
    assert m["spark.tasks"] == pytest.approx(12 / 2)
    assert m["driver.py4j_calls"] == 7.0
    assert set(m) == set(metrics.PER_LAYER)
    assert metrics.uncovered_fraction(spans) == pytest.approx(0.2)


def test_generators_are_seeded():
    assert gen.cron_day(3, gen.CRON_EPOCH) == gen.cron_day(3, gen.CRON_EPOCH)
    assert gen.cron_day(3, gen.CRON_EPOCH) != gen.cron_day(4, gen.CRON_EPOCH)
    a, b = gen.Corpus(5, 50), gen.Corpus(5, 50)
    assert a.texts == b.texts and a.kinds == b.kinds
    t1, t2 = gen.relational_tables(9, 0.0005), gen.relational_tables(9, 0.0005)
    assert all(t1[k].equals(t2[k]) for k in t1)


def test_planted_copies_point_at_clean_sources():
    c = gen.Corpus(2, 400)
    text = dict(zip(c.ids, c.texts))
    for doc, kind, src in zip(c.ids, c.kinds, c.source):
        if kind == "exact":
            assert text[doc] == text[src] and c.kinds[c.ids.index(src)] == "good"
        elif kind == "near":
            diff = set(text[doc].split()) ^ set(text[src].split())
            assert 1 <= len(diff) <= 2


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_reports_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(metrics.END_TO_END)
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_tiny_traced_run_reports_every_layer_metric():
    out = _run("daily_cron", 1)
    assert out["correct"]
    assert set(out["metrics"]) == set(metrics.PER_LAYER)
    assert out["metrics"]["streaming.drain_s"]["value"] > 0
    assert out["metrics"]["spark.jobs"]["value"] > 0
