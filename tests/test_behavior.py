"""Hand-computed fixtures for funnel / cohort retention / SCD2 /
gap-fill-LOCF / BM25 / histogram — the behavior-analytics wave.

Each test pins semantics the oracle can't distinguish from a lucky
aggregate: funnel ORDER (a click before the view must not count),
LOCF carry distance, SCD2 run collapsing, histogram clamping.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.quality import (
    fixed_bin_histogram,
)
from big_data_project_datapipeline_spark.functions.text import bm25_topk
from big_data_project_datapipeline_spark.operators.behavior import (
    cohort_retention,
    funnel_counts,
    ordered_funnel,
    scd2_intervals,
)
from big_data_project_datapipeline_spark.operators.temporal_fill import (
    gap_fill_locf,
)


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


EV_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


def _events(spark, rows):
    return spark.createDataFrame(rows, EV_COLS)


def test_funnel_requires_step_order(spark):
    rows = [
        # u1: full ordered funnel
        (1, _ts("2024-01-01T00:00:00"), 1, "signup", 1.0),
        (2, _ts("2024-01-01T01:00:00"), 1, "view", 1.0),
        (3, _ts("2024-01-01T02:00:00"), 1, "click", 1.0),
        # u2: view BEFORE signup — must stop at signup
        (4, _ts("2024-01-02T05:00:00"), 2, "view", 1.0),
        (5, _ts("2024-01-02T06:00:00"), 2, "signup", 1.0),
        # u3: never signed up — not in funnel at all
        (6, _ts("2024-01-03T00:00:00"), 3, "view", 1.0),
    ]
    out = ordered_funnel(
        _events(spark, rows), ["signup", "view", "click"]
    )
    got = {r["user_id"]: r.asDict() for r in out.collect()}
    assert set(got) == {1, 2}
    assert got[1]["step_2_ts"] == _ts("2024-01-01T02:00:00")
    assert got[2]["step_1_ts"] is None and got[2]["step_2_ts"] is None
    counts = {
        r["step_name"]: r["users"]
        for r in funnel_counts(
            _events(spark, rows), ["signup", "view", "click"]
        ).collect()
    }
    assert counts == {"signup": 2, "view": 1, "click": 1}


def test_funnel_uses_first_qualifying_occurrence(spark):
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "signup", 1.0),
        # two views after signup: step ts must be the EARLIER one
        (2, _ts("2024-01-01T03:00:00"), 1, "view", 1.0),
        (3, _ts("2024-01-01T01:00:00"), 1, "view", 1.0),
    ]
    out = ordered_funnel(_events(spark, rows), ["signup", "view"]).collect()
    assert out[0]["step_1_ts"] == _ts("2024-01-01T01:00:00")


def test_cohort_retention_offsets_and_rates(spark):
    rows = [
        # u1 first active Mon Jan 1 week; active again week +2
        (1, _ts("2024-01-02T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-16T00:00:00"), 1, "view", 1.0),
        # u2 same cohort week, only week 0
        (3, _ts("2024-01-03T00:00:00"), 2, "view", 1.0),
    ]
    out = {
        (r["cohort_week"], r["week_offset"]): r.asDict()
        for r in cohort_retention(_events(spark, rows)).collect()
    }
    w0 = _ts("2024-01-01T00:00:00")  # Monday truncation
    assert out[(w0, 0)]["active_users"] == 2
    assert out[(w0, 0)]["retention_rate"] == 1.0
    assert out[(w0, 2)]["active_users"] == 1
    assert out[(w0, 2)]["retention_rate"] == 0.5
    assert out[(w0, 0)]["cohort_size"] == 2


def test_cohort_retention_drops_null_users_and_aggregates_firsts_once(spark):
    rows = [
        (1, _ts("2024-01-02T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-16T00:00:00"), 1, "view", 1.0),
        # a null user: alone in an earlier week, then in u1's cohort week
        (3, _ts("2023-12-20T00:00:00"), None, "view", 1.0),
        (4, _ts("2024-01-03T00:00:00"), None, "view", 1.0),
    ]
    df = cohort_retention(_events(spark, rows))
    w0 = _ts("2024-01-01T00:00:00")
    assert sorted(tuple(r) for r in df.collect()) == [
        (w0, 0, 1, 1, 1.0),
        (w0, 2, 1, 1, 1.0),
    ]
    # the join side and the cohort sizes read one shuffle of firsts
    assert "ReusedExchange" in df._jdf.queryExecution().executedPlan().toString()


def test_scd2_collapses_runs_and_versions(spark):
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "a", 1.0),
        (2, _ts("2024-01-01T01:00:00"), 1, "a", 1.0),  # same run
        (3, _ts("2024-01-01T02:00:00"), 1, "b", 1.0),
        (4, _ts("2024-01-01T03:00:00"), 1, "a", 1.0),  # a returns
    ]
    out = scd2_intervals(
        _events(spark, rows), "user_id", "event_type", "ts", "event_id"
    ).collect()
    assert [r["event_type"] for r in out] == ["a", "b", "a"]
    assert [r["version"] for r in out] == [1, 2, 3]
    assert out[0]["valid_to"] == _ts("2024-01-01T02:00:00")
    assert out[1]["valid_to"] == _ts("2024-01-01T03:00:00")
    assert out[2]["valid_to"] is None and out[2]["is_current"] == 1


def test_gap_fill_locf_carries_and_flags(spark):
    rows = [
        (1, _ts("2024-01-01T00:10:00"), 1, "s", 10.0),
        (2, _ts("2024-01-01T00:20:00"), 1, "s", 20.0),  # slot 00 mean 15
        (3, _ts("2024-01-01T03:30:00"), 1, "s", 40.0),  # slots 01,02 gap
    ]
    out = gap_fill_locf(
        _events(spark, rows), "event_type", "ts", F.col("value"), "1 hour"
    ).collect()
    got = {r["slot"].hour: (r["value"], r["filled"]) for r in out}
    assert got[0] == (15.0, 0)
    assert got[1] == (15.0, 1)  # carried forward, flagged
    assert got[2] == (15.0, 1)
    assert got[3] == (40.0, 0)
    assert len(out) == 4  # grid spans the series' own bounds only


def test_bm25_ranks_rarer_term_higher(spark):
    docs = spark.createDataFrame(
        [
            (1, "rare common common"),
            (2, "common common common"),
            (3, "common filler filler filler filler filler"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, ["rare", "common"], k=10)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    # doc1 matches the rare term → highest score; all three match common.
    assert rows[1]["rank"] == 1
    assert rows[1]["n_matched_terms"] == 2
    assert set(rows) == {1, 2, 3}
    # longer doc with same tf is length-penalized below the short one
    assert rows[2]["bm25"] > rows[3]["bm25"]


def test_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [("a", -5.0), ("a", 0.0), ("a", 9.9), ("a", 10.0), ("a", 99.0)],
        ["k", "v"],
    )
    out = {
        r["bin"]: r.asDict()
        for r in fixed_bin_histogram(df, "v", 0.0, 50.0, 5, ["k"]).collect()
    }
    # -5 clamps into bin 0; 99 clamps into bin 4; bounds are exact.
    assert out[0]["n"] == 3 and out[0]["bin_lo"] == 0.0
    assert out[1]["n"] == 1 and out[1]["bin_hi"] == 20.0
    assert out[4]["n"] == 1


def test_funnel_rejects_empty_steps(spark):
    with pytest.raises(ValueError):
        ordered_funnel(
            spark.createDataFrame([], "user_id long, event_type string, ts timestamp"),
            [],
        )


def test_inter_event_stats_hand_computed(spark):
    import datetime as dt
    import math

    from big_data_project_datapipeline_spark.operators.behavior import (
        inter_event_stats,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: gaps 10s then 20s (types b, c)
        (1, 1, t0, "a", 0.0),
        (2, 1, t0 + dt.timedelta(seconds=10), "b", 0.0),
        (3, 1, t0 + dt.timedelta(seconds=30), "c", 0.0),
        # user 2: one gap of 40s into type b; first event no gap
        (4, 2, t0, "c", 0.0),
        (5, 2, t0 + dt.timedelta(seconds=40), "b", 0.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    out = {r.event_type: r for r in inter_event_stats(df).collect()}
    assert "a" not in out  # first events carry no interval
    b = out["b"]
    assert (b.n_intervals, b.median_gap_s) == (2, 10)  # lower median of {10, 40}
    assert b.mean_gap_s == pytest.approx(25.0)
    assert b.std_gap_s == pytest.approx(15.0)  # population std of {10, 40}
    assert out["c"].n_intervals == 1 and out["c"].median_gap_s == 20
    assert out["c"].std_gap_s == 0.0


def test_inter_event_stats_subsecond_truncation(spark):
    import datetime as dt

    from big_data_project_datapipeline_spark.operators.behavior import (
        inter_event_stats,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 900000)
    rows = [
        (1, 1, t0, "a", 0.0),
        # 0.2s later: gap floor(0.2s) = 0 even though the SECOND field
        # of the two timestamps differs (the ±1 trap the micros device
        # fixes)
        (2, 1, t0 + dt.timedelta(microseconds=200000), "b", 0.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    out = inter_event_stats(df).collect()
    assert len(out) == 1 and out[0].median_gap_s == 0


class TestMarkovRemovalAttribution:
    def _attr(self, spark, journeys, horizon=12):
        from big_data_project_datapipeline_spark.operators.behavior import (
            markov_removal_attribution,
        )
        rows, eid = [], 0
        for uid, seq in enumerate(journeys):
            for i, et in enumerate(seq):
                rows.append(
                    (eid, _ts(f"2024-01-01T00:{i:02d}:00"), uid, et, 1.0)
                )
                eid += 1
        out = markov_removal_attribution(
            _events(spark, rows), conv_state="purchase", horizon=horizon
        )
        return {r["channel"]: r for r in out.collect()}

    def test_single_channel_full_credit(self, spark):
        # A: click -> purchase; B: click -> (drop). P(conv) = 0.5;
        # removing click severs everything -> effect 1, share 1.
        got = self._attr(spark, [["click", "purchase"], ["click"]])
        assert set(got) == {"click"}
        r = got["click"]
        assert r["p_conv"] == 0.5 and r["p_conv_removed"] == 0.0
        assert r["removal_effect"] == 1.0
        assert r["attribution_share"] == 1.0

    def test_assisting_channel_gets_equal_credit(self, spark):
        # view assists every conversion (view -> click -> purchase);
        # removing EITHER channel kills the path -> equal shares, and
        # last-touch would have given view nothing.
        got = self._attr(
            spark, [["view", "click", "purchase"], ["view"]]
        )
        assert set(got) == {"view", "click"}
        assert got["view"]["removal_effect"] == 1.0
        assert got["click"]["removal_effect"] == 1.0
        assert got["view"]["attribution_share"] == 0.5
        assert got["click"]["attribution_share"] == 0.5
        assert got["view"]["p_conv"] == 0.5

    def test_journeys_truncate_at_first_conversion(self, spark):
        # events after the first purchase (incl. a 'view') must not
        # create states or transitions
        got = self._attr(
            spark, [["click", "purchase", "view", "purchase"]]
        )
        assert set(got) == {"click"}
        assert got["click"]["p_conv"] == 1.0

    def test_fixed_horizon_cuts_deep_chains(self, spark):
        # conversion sits 16 steps from START but horizon is 12:
        # fixed-horizon probability is exactly 0, shares NULL-guarded
        chain = [f"c{i}" for i in range(15)] + ["purchase"]
        got = self._attr(spark, [chain], horizon=12)
        assert got["c0"]["p_conv"] == 0.0
        assert got["c0"]["attribution_share"] is None
        # at horizon 16 the same chain converts with certainty
        got16 = self._attr(spark, [chain], horizon=16)
        assert got16["c0"]["p_conv"] == 1.0

    def test_partial_dependence_weights_shares(self, spark):
        # two converting paths: direct click->purchase and assisted
        # view->click->purchase; removing view only kills one path
        got = self._attr(
            spark,
            [["click", "purchase"], ["view", "click", "purchase"]],
        )
        # full chain: START -> click (1/2) / view (1/2);
        # click -> purchase always; view -> click always => p_conv = 1
        assert got["click"]["p_conv"] == 1.0
        # removing view: START->view path dies => p = 1/2, effect 1/2
        assert got["view"]["removal_effect"] == 0.5
        # removing click kills both paths
        assert got["click"]["removal_effect"] == 1.0
        assert got["click"]["attribution_share"] == round(
            (1.0) / 1.5, 6
        )
        assert got["view"]["attribution_share"] == round(0.5 / 1.5, 6)


class TestMarkovSentinelGuards:
    """ADVICE r5: 'START'/'NULL' are reserved chain states — a REAL
    event named either must fail loudly, not silently corrupt the
    chain (a real 'NULL' would become an absorbing non-conversion
    state)."""

    def _events(self, spark, journeys):
        rows, eid = [], 0
        for uid, seq in enumerate(journeys):
            for i, et in enumerate(seq):
                rows.append((eid, _ts(f"2024-01-01T00:{i:02d}:00"), uid, et, 1.0))
                eid += 1
        return _events(spark, rows)

    def _run(self, spark, journeys, **kw):
        from big_data_project_datapipeline_spark.operators.behavior import (
            markov_removal_attribution,
        )

        return markov_removal_attribution(
            self._events(spark, journeys), **kw
        ).collect()

    def test_real_null_event_raises(self, spark):
        with pytest.raises(ValueError, match="'NULL' collides"):
            self._run(
                spark,
                [["click", "NULL", "purchase"], ["click"]],
                conv_state="purchase",
            )

    def test_real_start_event_raises(self, spark):
        with pytest.raises(ValueError, match="'START' collides"):
            self._run(
                spark,
                [["START", "purchase"], ["click"]],
                conv_state="purchase",
            )

    def test_sentinel_conv_state_raises(self, spark):
        with pytest.raises(ValueError, match="conv_state collides"):
            self._run(spark, [["click"]], conv_state="NULL")


def test_q220_session_paths_prefix_and_whole_session_conversion(spark):
    """q220's device (the entry composes it inline): 30-min-gap
    sessions reduce to ordered first-8-step path strings, while the
    conversion flag reads the WHOLE session — a purchase at step 9
    converts a session whose path shows only the 8-step prefix."""
    import datetime as dt
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_q220", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    # user 1, session 1: click > view; session 2 (40-min gap): purchase
    for off, typ in [(0, "click"), (600, "view"), (3000, "purchase")]:
        eid += 1
        rows.append((eid, t0 + dt.timedelta(seconds=off), 1, typ, 1.0, ""))
    # user 2, one session: 8 views then a purchase at step 9
    for k in range(9):
        eid += 1
        typ = "purchase" if k == 8 else "view"
        rows.append(
            (eid, t0 + dt.timedelta(seconds=60 * k), 2, typ, 1.0, "")
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    # the entry loads every table lazily but only reads events here
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings",
    ]:
        spark.read.parquet(
            f"/root/testdata/sf0.001/{t}.parquet"
        ).limit(0).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    out = {
        r["path"]: (r["n_sessions"], r["n_converted"], r["conversion_rate"])
        for r in entry.q220_top_session_paths(spark, d).collect()
    }
    assert out["click>view"] == (1, 0, 0.0)
    assert out["purchase"] == (1, 1, 1.0)
    eight_views = ">".join(["view"] * 8)
    assert out[eight_views] == (1, 1, 1.0)  # truncated path, converted
