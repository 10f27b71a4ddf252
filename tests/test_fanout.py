"""Scan fan-out device (tables._fan_out_unsplittable).

The driver testdata ships one parquet row group per table, so a scan —
and everything Catalyst fuses into the scan stage — runs in ONE task
regardless of core count. ``load_table(..., fan_out=True)`` fans such
inputs out with a round-robin repartition derived from the file's
PHYSICAL layout (row_groups < defaultParallelism and enough rows to
matter), which is a provable no-op on production-scale tables.

Since r13 the fan-out is OPT-IN per call site: a same-window 237-query
A/B measured the always-on r12 policy as a net loss (the extra AQE
stage taxes every light query), so only compute-amplified consumers
request it.
"""

from __future__ import annotations

import pytest

from big_data_project_datapipeline_spark import tables
from big_data_project_datapipeline_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clear_cache():
    tables._ROW_GROUPS.clear()
    yield
    tables._ROW_GROUPS.clear()


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_default_does_not_fan_out(spark):
    # r13: fan-out is opt-in — a plain load is a bare scan
    df = load_table(spark, SF_DIR, "lineitem")
    assert "Repartition" not in _plan(df)


def test_opt_in_single_row_group_table_fans_out(spark):
    df = load_table(spark, SF_DIR, "lineitem", fan_out=True)
    assert "Repartition" in _plan(df), _plan(df)


def test_tiny_dim_table_does_not_fan_out(spark):
    # nation: 25 rows < cores*16 — fan-out would be pure scheduling
    # overhead on a broadcast-bound dim, even when requested
    df = load_table(spark, SF_DIR, "nation", fan_out=True)
    assert "Repartition" not in _plan(df)


def test_many_row_group_table_does_not_fan_out(spark):
    # simulate a production-layout table: pretend the footer reported
    # more row groups than cores — the fan-out must be a no-op
    key = (SF_DIR, "lineitem")
    tables._ROW_GROUPS[key] = (1 << 20, 6001)
    df = load_table(spark, SF_DIR, "lineitem", fan_out=True)
    assert "Repartition" not in _plan(df)


def test_fanout_preserves_column_pruning(spark):
    # guide §6 / PLAN_AUDIT contract: the repartition must not block
    # projection pushdown — a two-column projection reads two columns
    df = load_table(spark, SF_DIR, "lineitem", fan_out=True).select(
        "l_orderkey", "l_quantity"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "l_extendedprice" not in scan[0], plan[:2000]


def test_fanout_preserves_values(spark):
    # same rows either way — the repartition only moves them
    fanned = load_table(spark, SF_DIR, "orders", fan_out=True)
    flat = load_table(spark, SF_DIR, "orders")
    assert "Repartition" not in _plan(flat)
    a = sorted(map(tuple, fanned.collect()))
    b = sorted(map(tuple, flat.collect()))
    assert a == b
