"""Hand-computed fixtures for the stats/market/attribution wave:
Welch t-test, lower-median + MAD outliers, co-purchase lift, trailing
EWMA, Markov transitions, last-touch attribution, RAG chunking.

Each test pins a semantic the oracle gate can't distinguish from a
lucky aggregate: Welch's ddof=1 variance and df formula, the LOWER
(element) median on even counts, lift normalization, EWMA weight decay
with a null gap, strictly-earlier touch ordering, and chunk stride /
tail behavior.
"""

from __future__ import annotations

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.quality import (
    grouped_lower_median,
    mad_outlier_summary,
    welch_ttest,
)
from big_data_project_datapipeline_spark.functions.text import chunk_documents
from big_data_project_datapipeline_spark.operators.behavior import (
    last_touch_attribution,
    markov_transitions,
)
from big_data_project_datapipeline_spark.operators.market import copurchase_lift
from big_data_project_datapipeline_spark.operators.rolling import trailing_ewma


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double"
)


def test_welch_ttest_hand_computed(spark):
    # arm a: [1, 2, 3]  arm b: [2, 4, 9]
    rows = [(i, a, float(v)) for i, (a, v) in enumerate(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 4), (1, 9)]
    )]
    df = spark.createDataFrame(rows, "id long, arm int, value double")
    out = welch_ttest(df, "value", F.col("arm") == 1).first()
    assert out["n_a"] == 3 and out["n_b"] == 3
    assert out["mean_a"] == 2.0 and out["mean_b"] == 5.0
    assert out["var_a"] == 1.0  # ddof=1: ((1-2)²+(0)²+(1)²)/2
    assert out["var_b"] == 13.0
    se2 = 1.0 / 3 + 13.0 / 3
    assert out["t_stat"] == pytest.approx((2.0 - 5.0) / math.sqrt(se2), abs=1e-6)
    dof = se2**2 / ((1.0 / 3) ** 2 / 2 + (13.0 / 3) ** 2 / 2)
    assert out["welch_df"] == pytest.approx(dof, abs=1e-6)


def test_lower_median_even_count_takes_lower_element(spark):
    df = spark.createDataFrame(
        [("g", float(v)) for v in [1, 2, 3, 4]], "k string, value double"
    )
    out = grouped_lower_median(df, ["k"], "value", "med").first()
    assert out["med"] == 2.0  # rank (4+1) div 2 = 2 → element 2, never 2.5


def test_mad_outlier_flags_extreme_only(spark):
    vals = [1.0, 3.0, 5.0, 7.0, 100.0]  # median 5, devs 4,2,0,2,95 → MAD 2
    df = spark.createDataFrame([("g", v) for v in vals], "k string, value double")
    out = mad_outlier_summary(df, "value", ["k"]).first()
    assert out["median"] == 5.0 and out["mad"] == 2.0
    # threshold 3 × 1.4826 × 2 ≈ 8.9: only the 95 deviation trips it
    assert out["n_outliers"] == 1 and out["n"] == 5


def test_mad_sketch_within_stacked_bin_bound(spark):
    """The round-11 mergeable MAD path (the q219 huber swap applied to
    mad_outlier_summary): median and MAD each carry <= bin width/2 of
    histogram-midpoint error, the MAD additionally absorbing the
    median's shift — pin the stacked bound and that the extreme
    outlier still flags."""
    vals = [float(v) for v in range(1, 50, 2)] + [1000.0]  # range ~999
    df = spark.createDataFrame(
        [("g", v) for v in vals], "k string, value double"
    )
    ex = mad_outlier_summary(df, "value", ["k"]).first()
    sk = mad_outlier_summary(
        df, "value", ["k"], scale_estimator="sketch", scale_bins=64
    ).first()
    value_range = 999.0
    med_err = value_range / 64.0  # bin width of the value grid
    assert abs(sk["median"] - ex["median"]) <= med_err
    # MAD grid spans max|v - med| (~975): its bin error stacks on the
    # median's shift
    mad_err = med_err + 1000.0 / 64.0
    assert abs(sk["mad"] - ex["mad"]) <= mad_err
    assert sk["n"] == ex["n"] == 26
    # 1000 deviates ~975 vs threshold ~3*1.4826*MAD(~13): both paths
    # flag exactly the one extreme point
    assert sk["n_outliers"] == ex["n_outliers"] == 1


def test_mad_sketch_exact_on_zero_width_groups(spark):
    """All values identical: both grids are zero-width, the sketch
    path reproduces the exact path bit-for-bit (median == the value,
    MAD == 0, no outliers)."""
    df = spark.createDataFrame(
        [("g", 7.0)] * 5, "k string, value double"
    )
    ex = mad_outlier_summary(df, "value", ["k"]).first()
    sk = mad_outlier_summary(
        df, "value", ["k"], scale_estimator="sketch"
    ).first()
    assert (sk["median"], sk["mad"], sk["n_outliers"]) == (
        ex["median"], ex["mad"], ex["n_outliers"]
    ) == (7.0, 0.0, 0)


def test_mad_sketch_plan_never_sorts_values(spark):
    """The point of the flag: the exact path's rank device SORTS the
    distinct-value frame (`Sort [... __v ASC]` — O(rows) for a
    continuous column, twice), while the sketch plan's only sorts are
    over the `__bin` frame (bounded at scale_bins rows per group) and
    O(groups) join keys — no value column is ever sorted or buffered."""
    import re

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(9)], "k string, value double"
    )
    exact_plan = (
        mad_outlier_summary(df, "value", ["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    sketch_plan = (
        mad_outlier_summary(df, "value", ["k"], scale_estimator="sketch")
        ._jdf.queryExecution().executedPlan().toString()
    )
    value_sort = re.compile(r"Sort \[[^\]\n]*__(v|dev)#")
    assert value_sort.search(exact_plan)
    assert not value_sort.search(sketch_plan)
    assert "percentile" not in sketch_plan
    with pytest.raises(ValueError, match="scale_estimator"):
        mad_outlier_summary(df, "value", ["k"], scale_estimator="bogus")


def test_copurchase_lift_normalization(spark):
    # baskets: {a,b,c}, {a,b}, {a,b} → pair (a,b) in 3 of 3 baskets
    lines = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"), (3, "b"),
         (3, "b")],  # duplicate line collapses
        "o long, p string",
    )
    out = copurchase_lift(lines, "o", "p", min_pair_count=2)
    rows = {(r["item_a"], r["item_b"]): r for r in out.collect()}
    assert set(rows) == {("a", "b")}
    r = rows[("a", "b")]
    assert r["pair_n"] == 3 and r["support"] == 1.0
    assert r["lift"] == pytest.approx(3 * 3 / (3 * 3), abs=1e-6)


def test_trailing_ewma_null_gap_carries_no_weight(spark):
    vals = [1.0, 2.0, None, 4.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "u long, i long, value double"
    )
    out = trailing_ewma(df, "u", ["i"], "value", alpha=0.5, n=3)
    got = {r["i"]: r["ewma"] for r in out.collect()}
    assert got[0] == 1.0
    assert got[1] == pytest.approx((2 + 0.5 * 1) / 1.5, abs=1e-6)
    # null current row: only lags contribute
    assert got[2] == pytest.approx((0.5 * 2 + 0.25 * 1) / 0.75, abs=1e-6)
    # the null lag carries no weight
    assert got[3] == pytest.approx((4 + 0.25 * 2) / 1.25, abs=1e-6)


def test_markov_transition_probabilities(spark):
    rows = [
        (1, _ts("2024-01-01T10:00"), 1, "view", None),
        (2, _ts("2024-01-01T11:00"), 1, "click", None),
        (3, _ts("2024-01-01T12:00"), 1, "view", None),
        (4, _ts("2024-01-01T10:30"), 2, "view", None),
        (5, _ts("2024-01-01T11:30"), 2, "view", None),
    ]
    out = markov_transitions(spark.createDataFrame(rows, EV_SCHEMA))
    got = {(r["src"], r["dst"]): (r["n"], r["p"]) for r in out.collect()}
    # user1: view→click→view; user2: view→view
    assert got[("view", "click")] == (1, 0.5)
    assert got[("view", "view")] == (1, 0.5)
    assert got[("click", "view")] == (1, 1.0)


def test_attribution_strictly_earlier_and_horizon(spark):
    rows = [
        (1, _ts("2024-01-01T10:00"), 1, "view", None),
        (2, _ts("2024-01-01T11:00"), 1, "click", None),
        (3, _ts("2024-01-05T11:00"), 1, "purchase", None),   # → click(2)
        (4, _ts("2024-01-20T11:00"), 1, "purchase", None),   # horizon miss
        (5, _ts("2024-01-01T09:00"), 2, "purchase", None),   # no prior touch
        # same-ts touch sorts AFTER the purchase by event_id → not credited
        (6, _ts("2024-01-01T09:00"), 2, "view", None),
    ]
    out = last_touch_attribution(
        spark.createDataFrame(rows, EV_SCHEMA), "purchase", ["click", "view"], 7
    )
    got = {r["conversion_id"]: r for r in out.collect()}
    assert got[3]["touch_id"] == 2 and got[3]["attributed"] == 1
    assert got[4]["touch_id"] is None and got[4]["attributed"] == 0
    assert got[5]["touch_id"] is None


def test_chunk_stride_overlap_and_short_tail(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=2)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: 10 tokens, stride 2 → 1 + ceil(6/2) = 4 chunks
    assert {k for k in rows if k[0] == 1} == {(1, c) for c in range(4)}
    assert rows[(1, 0)]["chunk_text"] == "a b c d"
    assert rows[(1, 1)]["chunk_text"] == "c d e f"
    assert rows[(1, 3)]["chunk_text"] == "g h i j"
    # short doc: single chunk, chunk_len = token count
    assert rows[(2, 0)]["chunk_len"] == 2
    # empty/null docs emit nothing
    assert not any(k[0] in (3, 4) for k in rows)


def test_rank_elements_quartiles(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_rank_elements,
    )

    # n=8 → ranks: p25 ceil(2)=2, p50 ceil(4)=4, p75 ceil(6)=6
    df = spark.createDataFrame(
        [("g", float(v)) for v in [10, 20, 30, 40, 50, 60, 70, 80]],
        "k string, value double",
    )
    out = grouped_rank_elements(
        df, ["k"], "value", [(1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75")]
    ).first()
    assert (out["p25"], out["p50"], out["p75"]) == (20.0, 40.0, 60.0)


def test_robust_scale_zero_iqr_is_null(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        robust_scale,
    )

    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4]] + [("b", 5.0), ("b", 5.0)],
        "k string, value double",
    )
    out = robust_scale(df, "value", ["k"])
    rows = out.collect()
    a = {r["value"]: r["robust_scaled"] for r in rows if r["k"] == "a"}
    # quartile elements: p25=1, p50=2, p75=3 → iqr 2
    assert a[4.0] == pytest.approx((4 - 2) / 2, abs=1e-6)
    assert all(r["robust_scaled"] is None for r in rows if r["k"] == "b")


def test_seasonal_anomaly_flags_hour_outlier(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        seasonal_anomalies,
    )

    # hour 10 baseline ~10, one wild reading; hour 11 constant (std 0)
    hour10 = [9.0, 10.0, 11.0, 30.0, 10.0, 9.0, 11.0, 10.0]
    rows = [
        (d, _ts(f"2024-01-{d + 1:02d}T10:00"), 1, "t", v)
        for d, v in enumerate(hour10)
    ] + [(9, _ts("2024-01-01T11:00"), 1, "t", 5.0),
         (10, _ts("2024-01-02T11:00"), 1, "t", 5.0)]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    out = seasonal_anomalies(df, "value", "ts", ["event_type"], n_sigmas=2.0)
    flagged = [r["event_id"] for r in out.collect()]
    assert flagged == [3]  # only the 30.0 reading (z≈2.6); constant hour
    # (std 0) never flags, nor do the in-range hour-10 readings


def test_equal_freq_bins_deterministic_ties(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        equal_frequency_bins,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 1, 1, 1, 2, 2, 2, 2])],
        "id long, value double",
    )
    out = equal_frequency_bins(df, "value", n_bins=4, tiebreak_col="id")
    got = {r["bin"]: (r["n"], r["lo"], r["hi"]) for r in out.collect()}
    # ntile(4) over 8 rows → 2 per bin; ties split by id order
    assert got == {1: (2, 1.0, 1.0), 2: (2, 1.0, 1.0),
                   3: (2, 2.0, 2.0), 4: (2, 2.0, 2.0)}


def test_target_encode_loo_excludes_self(spark):
    from big_data_project_datapipeline_spark.functions.encode import (
        target_encode_loo,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 6.0), (4, "b", 9.0)],
        "id long, cat string, y double",
    )
    out = target_encode_loo(df, ["cat"], "y")
    got = {r["id"]: r["te_loo"] for r in out.collect()}
    assert got[1] == pytest.approx((2 + 6) / 2, abs=1e-6)
    assert got[3] == pytest.approx((1 + 2) / 2, abs=1e-6)
    assert got[4] is None  # singleton category has no "others"


def test_hashed_token_counts_multiplicity(spark):
    from big_data_project_datapipeline_spark.functions.encode import (
        hashed_token_counts,
    )

    df = spark.createDataFrame(
        [(1, "dog dog cat"), (2, "")], "doc_id long, text string"
    )
    out = hashed_token_counts(df, n_buckets=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["n"])
    # doc 1: "dog"×2 and "cat"×1 (buckets may collide but total is 3)
    assert sorted(by_doc[1]) in ([1, 2], [3])
    assert 2 not in by_doc  # empty doc emits nothing


def test_pagerank_star_graph(spark):
    from big_data_project_datapipeline_spark.operators.graph import pagerank

    # undirected star: hub 0 — leaves 1..3. Symmetric edges.
    ed = [(0, i) for i in (1, 2, 3)] + [(i, 0) for i in (1, 2, 3)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    out = {r["node"]: r["pr"] for r in pagerank(edges, n_iter=3).collect()}
    # hand-iterate: n=4, d=0.85; hub deg 3, leaves deg 1
    pr = {0: 0.25, 1: 0.25, 2: 0.25, 3: 0.25}
    for _ in range(3):
        nxt = {}
        nxt[0] = 0.15 / 4 + 0.85 * sum(pr[i] / 1 for i in (1, 2, 3))
        for i in (1, 2, 3):
            nxt[i] = 0.15 / 4 + 0.85 * (pr[0] / 3)
        pr = nxt
    for node, want in pr.items():
        assert out[node] == pytest.approx(want, abs=1e-6)
    # ranks are a distribution (mass preserved on a symmetric graph)
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_caches_release_with_result():
    """Storage returns to baseline DETERMINISTICALLY when a heavy
    graph result is dropped (VERDICT r11 item 4): release_caches /
    the GC finalizer free the cache-manager handles AND the
    localCheckpoint snapshots with BLOCKING unpersists via the
    LogicalRDD handle — no ContextCleaner drain, no poll. Pinned for
    the whole heavy family (pagerank, hits, connected_components,
    LPA+modularity with the upstream chain, logistic_irls's per-step
    snapshots) in a 2-run-each loop: the
    cross-run accumulation profile bench.py's in-session mode sees.
    Runs in an ISOLATED subprocess JVM so suite-state reachability
    can't pollute the lifetime under test."""
    import os
    import subprocess
    import sys

    script = r"""
import gc
from pyspark.sql import functions as F
from big_data_project_datapipeline_spark.functions.quality import logistic_irls
from big_data_project_datapipeline_spark.operators.caching import release_caches
from big_data_project_datapipeline_spark.operators.graph import (
    connected_components, hits, label_propagation, modularity, pagerank)
from big_data_project_datapipeline_spark.session import get_spark

spark = get_spark(app_name="lifetime-probe", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})

def ids():
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().toList().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next()._1())
    return out

edges = spark.createDataFrame([(0, 1), (1, 0), (1, 2), (2, 1), (2, 3)],
                              "src long, dst long")

# explicit-release path: handles freed NOW (blocking), snapshots too
before = ids()
out = pagerank(edges, n_iter=2)
assert out.count() == 4
mine = ids() - before
assert len(mine) >= 3, mine  # 2 cache entries + final-round snapshot
release_caches(out)
leaked = ids() & mine
assert not leaked, sorted(leaked)
del out

# GC-finalizer path, 2 runs each across the heavy family: after
# del + gc.collect() storage is back to baseline IMMEDIATELY
def lpa_mod(e):
    lab = label_propagation(e, n_rounds=2)
    return modularity(e, lab)

for build in (lambda e: pagerank(e, n_iter=2),
              lambda e: hits(e, n_iter=2),
              lambda e: connected_components(e),
              lpa_mod,
              lambda e: logistic_irls(e, F.col("dst") > 1, "src", "dst",
                                      n_iters=2)):
    for _ in range(2):
        before = ids()
        r = build(edges)
        assert r.count() > 0
        r = None
        gc.collect()
        leaked = ids() - before
        assert not leaked, (build, sorted(leaked))
print("LIFETIME OK")
"""
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "LIFETIME OK" in proc.stdout


def test_hits_bipartite_hand_computed(spark):
    from big_data_project_datapipeline_spark.operators.graph import hits

    # directed bipartite: buyers {0,1} -> items {10, 11, 12};
    # 0 buys all three, 1 buys only 10. 10 is the strongest authority
    # (both buyers), 0 the strongest hub (all items).
    ed = [(0, 10), (0, 11), (0, 12), (1, 10)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    out = {r["node"]: r for r in hits(edges, n_iter=3).collect()}
    # hand-iterate unnormalized, then L1-normalize once (the op's
    # exact contract)
    h = {n: 1.0 for n in (0, 1, 10, 11, 12)}
    a = {}
    for _ in range(3):
        a = {10: h[0] + h[1], 11: h[0], 12: h[0], 0: 0.0, 1: 0.0}
        h = {0: a[10] + a[11] + a[12], 1: a[10], 10: 0.0, 11: 0.0, 12: 0.0}
    sh, sa = sum(h.values()), sum(a.values())
    for n in (0, 1, 10, 11, 12):
        assert out[n]["hub"] == round(h[n] / sh, 6), n
        assert out[n]["auth"] == round(a[n] / sa, 6), n
    # roles separate cleanly on a bipartite graph
    assert out[0]["hub"] > out[1]["hub"] > 0.0
    assert out[10]["auth"] > out[11]["auth"] == out[12]["auth"]
    assert out[10]["hub"] == 0.0 and out[0]["auth"] == 0.0


def test_hits_l1_normalized_and_duplicate_edges(spark):
    from big_data_project_datapipeline_spark.operators.graph import hits

    # duplicate edges collapse (distinct) — a doubled edge must not
    # double its contribution
    ed = [(0, 10), (0, 10), (1, 10), (1, 11)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    out = hits(edges, n_iter=2).collect()
    assert sum(r["hub"] for r in out) == pytest.approx(1.0, abs=1e-5)
    assert sum(r["auth"] for r in out) == pytest.approx(1.0, abs=1e-5)
    by = {r["node"]: r for r in out}
    # 0 and 1 both point at 10; 1 also at 11 -> 1 is the wider hub
    assert by[1]["hub"] > by[0]["hub"]


def test_chi_square_hand_computed(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        chi_square_contingency,
    )

    # 2×2 table: type x: (10, 20); type y: (30, 40)
    rows = [("x", 0)] * 10 + [("x", 1)] * 20 + [("y", 0)] * 30 + [("y", 1)] * 40
    df = spark.createDataFrame(
        [(t, p) for t, p in rows], "event_type string, par int"
    )
    out = {
        r["event_type"]: r
        for r in chi_square_contingency(
            df, "event_type", F.col("par") == 1
        ).collect()
    }
    # totals: c0=40, c1=60, grand=100; x row_total=30 → e0=12, e1=18
    assert out["x"]["e0"] == 12.0 and out["x"]["e1"] == 18.0
    want_x = (10 - 12) ** 2 / 12 + (20 - 18) ** 2 / 18
    assert out["x"]["chi2_row"] == pytest.approx(want_x, abs=1e-6)
    assert out["y"]["n0"] == 30 and out["y"]["n1"] == 40


def test_pca_matches_numpy_and_is_orthonormal(spark):
    import numpy as np

    from big_data_project_datapipeline_spark.functions.similarity import (
        pca_fit,
        pca_project,
    )

    rng = np.random.default_rng(7)
    # anisotropic cloud: variance concentrated on two known axes
    base = rng.normal(size=(200, 6)) * np.array([10.0, 5.0, 1, 1, 0.5, 0.1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    mean, comps, ev = pca_fit(df, k=3, sample_cap=1000)
    w = np.asarray(comps)
    # orthonormal basis, descending explained variance
    assert np.allclose(w @ w.T, np.eye(3), atol=1e-9)
    assert ev[0] >= ev[1] >= ev[2] > 0
    # dominant component aligns with the highest-variance input axis
    assert abs(w[0][0]) > 0.9
    # projections match numpy exactly (same mean/components, BLAS both)
    out = pca_project(df, k=3, sample_cap=1000)
    got = {r["vec_id"]: (r["pc0"], r["pc1"], r["pc2"]) for r in out.collect()}
    want = (base - np.asarray(mean)) @ w.T
    for i in range(200):
        for j in range(3):
            assert got[i][j] == pytest.approx(round(want[i][j], 6), abs=1e-9)


def test_kmeans_recovers_planted_clusters(spark):
    import numpy as np

    from big_data_project_datapipeline_spark.functions.similarity import (
        kmeans_assign_relational,
    )

    rng = np.random.default_rng(0)
    pts = []
    for c, center in enumerate([[0.0, 0.0], [10.0, 10.0], [0.0, 10.0]]):
        for i in range(20):
            pts.append(
                (
                    c * 20 + i,
                    [
                        float(center[0] + rng.normal(0, 0.5)),
                        float(center[1] + rng.normal(0, 0.5)),
                    ],
                )
            )
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = kmeans_assign_relational(df, k=3, n_iter=2).collect()
    # every planted group lands in exactly one cluster, and vice versa
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"] // 20)
    assert sorted(map(len, by_cluster.values())) == [1, 1, 1]
    assert all(r["dist2"] is not None and r["dist2"] < 3.0 for r in out)


def test_kmeans_seeds_from_sparse_ids(spark):
    """Seeding takes the k LOWEST ids — sparse (non 0..k-1) ids must
    still yield exactly k seeds (round-2 ADVICE: a `pid < k` filter
    silently under-seeded here)."""
    from big_data_project_datapipeline_spark.functions.similarity import (
        kmeans_assign_relational,
    )

    # ids start at 1000 — the old `pid < k` seed filter finds none;
    # interleaved so the 3 lowest ids hit the 3 distinct blobs
    pts = [
        (1000 + c + 3 * i, [float(c * 10), float(c * 10)])
        for c in range(3)
        for i in range(10)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = kmeans_assign_relational(df, k=3, n_iter=2).collect()
    assert len(out) == 30
    assert {r["cluster"] for r in out} == {0, 1, 2}


def test_linear_trend_recovers_planted_slope(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_linear_trend,
    )

    # y = 2·day + 5 exactly → slope_per_day 2, intercept 5, r = 1
    day_ms = 86_400_000
    rows = [("g", i * day_ms, 5.0 + 2.0 * i) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, x long, value double")
    out = grouped_linear_trend(df, F.col("x"), "value", ["k"]).first()
    assert out["slope_per_unit"] == pytest.approx(2.0, abs=1e-6)
    assert out["intercept"] == pytest.approx(5.0, abs=1e-6)
    assert out["pearson_r"] == pytest.approx(1.0, abs=1e-6)


def test_gini_dispersion_hand_computed(spark):
    import itertools

    from big_data_project_datapipeline_spark.functions.quality import (
        gini_dispersion,
    )

    vals = [1.0, 2.0, 4.0, 7.0]
    rows = [(i, "a", v) for i, v in enumerate(vals)] + [
        (10, "b", 5.0),               # singleton: GMD defined as 0
        (11, "c", 3.0), (12, "c", 3.0),  # identical pair: GMD 0
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r.event_type: r for r in gini_dispersion(df).collect()}
    n = len(vals)
    gmd = sum(abs(a - b) for a, b in itertools.product(vals, vals)) / (n * (n - 1))
    assert out["a"].gini_mean_diff == pytest.approx(gmd, abs=1e-6)
    mean = sum(vals) / n
    assert out["a"].gini_coefficient == pytest.approx(gmd / (2 * mean), abs=1e-6)
    assert out["b"].gini_mean_diff == 0.0
    assert out["c"].gini_mean_diff == 0.0 and out["c"].n == 2


def test_running_balance_resets(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from big_data_project_datapipeline_spark.operators.behavior import (
        running_balance_with_resets,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, t0, "view", 10.0),
        (2, 7, t0 + dt.timedelta(minutes=1), "view", 5.0),
        (3, 7, t0 + dt.timedelta(minutes=2), "signup", 99.0),  # reset
        (4, 7, t0 + dt.timedelta(minutes=3), "view", 2.0),
        (5, 8, t0, "view", None),                              # null -> 0
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    out = {
        r.event_id: (r.segment, r.balance)
        for r in running_balance_with_resets(
            df, F.col("event_type") == "signup"
        ).collect()
    }
    assert out[1] == (0, 10.0)
    assert out[2] == (0, 15.0)
    assert out[3] == (1, 0.0)    # reset row: new segment, zero balance
    assert out[4] == (1, 2.0)    # accumulation restarts after reset
    assert out[5] == (0, 0.0)


def test_weighted_percentiles_hand_computed(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        weighted_percentile_elements,
    )

    # values 1..4 with weights 1,1,1,7 (total 10): cumw = 1,2,3,10.
    # p25 -> first cw>=2.5 -> value 3; p50 -> cw>=5 -> 4; p90 -> 4.
    rows = [(1, "g", 1.0, 1.0), (2, "g", 2.0, 1.0),
            (3, "g", 3.0, 1.0), (4, "g", 4.0, 7.0)]
    df = spark.createDataFrame(
        rows, "id long, grp string, v double, w double"
    )
    out = weighted_percentile_elements(
        df, "v", "w", ["grp"], percentiles=(25, 50, 90), id_col="id"
    ).collect()[0]
    assert out.total_weight == 10.0
    assert (out.p25, out.p50, out.p90) == (3.0, 4.0, 4.0)
    # exact boundary: p10 -> 100*cw >= 10*10 at cw=1 -> value 1
    out2 = weighted_percentile_elements(
        df, "v", "w", ["grp"], percentiles=(10,), id_col="id"
    ).collect()[0]
    assert out2.p10 == 1.0


def test_rfm_segments_deterministic_quintiles(spark):
    import __spark_entry__ as E
    import datetime as dt
    import os
    import tempfile

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    oid = 0
    # customer c gets c orders of 100*c each, last order day c
    for c in range(1, 11):
        for _ in range(c):
            rows.append((oid, c, "F", 100.0 * c, t0 + dt.timedelta(days=c), "P"))
            oid += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "orders.parquet"))
        out = {r.custkey: r for r in E.q128_rfm_segments(spark, d).collect()}
    # customer 10: most recent, most frequent, highest spend -> 5/5/5
    top = out[10]
    assert (top.r_score, top.f_score, top.m_score) == (5, 5, 5)
    assert top.segment == "champion" and top.rfm_total == 15
    # customer 1: oldest, least frequent, lowest spend -> 1/1/1
    bot = out[1]
    assert (bot.r_score, bot.f_score, bot.m_score) == (1, 1, 1)
    assert bot.segment == "hibernating"
    assert out[10].recency_days == 0 and out[1].recency_days == 9


def test_nan_values_excluded_from_moments(spark):
    # Review regressions (reproduced): NaN counted in n but nulled by the
    # decimal cast fabricated moments across welch/trend/encode/histogram.
    import math

    from big_data_project_datapipeline_spark.functions.encode import (
        target_encode_loo,
    )
    from big_data_project_datapipeline_spark.functions.quality import (
        fixed_bin_histogram,
        grouped_linear_trend,
        welch_ttest,
    )

    nan = float("nan")
    # welch: NaN row in arm A must not count
    df = spark.createDataFrame(
        [(1, 1.0, False), (2, nan, False), (3, 3.0, False),
         (4, 2.0, True), (5, 4.0, True)],
        "id long, value double, flag boolean",
    )
    w = welch_ttest(df, "value", F.col("flag")).collect()[0]
    assert w.n_a == 2 and w.mean_a == pytest.approx(2.0)
    # histogram: NaN must not land in bin 0
    h = fixed_bin_histogram(
        spark.createDataFrame([(1.0,), (nan,), (9.0,)], "value double"),
        "value", lo=0.0, hi=10.0, n_bins=5,
    ).collect()
    assert sum(r.n for r in h) == 2
    # LOO encode: NaN target excluded from category stats
    e = target_encode_loo(
        spark.createDataFrame(
            [("a", 2.0), ("a", nan), ("a", 4.0)], "cat string, value double"
        ),
        ["cat"], "value",
    ).collect()
    by_val = {r.value if r.value == r.value else "nan": r.te_loo for r in e}
    assert by_val[4.0] == pytest.approx(2.0)
    assert by_val[2.0] == pytest.approx(4.0)
    assert by_val["nan"] is None
    # trend: null-x rows fully excluded
    import datetime as dt
    t = grouped_linear_trend(
        spark.createDataFrame(
            [("g", dt.datetime(2024, 1, 1), 0.0),
             ("g", dt.datetime(2024, 1, 2), 1.0),
             ("g", None, 5.0)],
            "g string, ts timestamp, value double",
        ),
        x=F.unix_millis(F.col("ts")),
        value_col="value", by=["g"],
    ).collect()[0]
    assert t.n == 2 and t.slope_per_unit == pytest.approx(1.0)
    assert t.pearson_r == pytest.approx(1.0)


def test_frequent_triples_hand_computed(spark):
    from big_data_project_datapipeline_spark.operators.market import (
        frequent_triples,
    )

    rows = [(1, "a"), (1, "b"), (1, "c"), (1, "d"),
            (2, "a"), (2, "b"), (2, "c"),
            (3, "a"), (3, "b"), (3, "x"),
            (4, "a"), (4, "b")]  # pairs only — no triple
    df = spark.createDataFrame(rows, "basket long, item string")
    out = frequent_triples(df, "basket", "item", min_count=2).collect()
    assert [(r.item_a, r.item_b, r.item_c, r.n_baskets) for r in out] == [
        ("a", "b", "c", 2)
    ]
    # min_count=1 surfaces every triple of the 4-item basket: C(4,3)=4
    all_t = frequent_triples(df, "basket", "item", min_count=1).collect()
    assert sum(1 for r in all_t if r.n_baskets == 1) == 4


def test_hits_deep_run_normalizes_per_sweep(spark):
    """ADVICE r5: n_iter > 3 routes through per-sweep L1 normalization
    so scores can never approach the decimal(28,12) overflow-to-NULL
    ceiling. Direction (and therefore the final normalized output,
    up to round-6 wiggle in the last digit) must match the
    hand-iterated power method."""
    from big_data_project_datapipeline_spark.operators.graph import hits

    ed = [(0, 10), (0, 11), (0, 12), (1, 10)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    out = {r["node"]: r for r in hits(edges, n_iter=5).collect()}
    h = {n: 1.0 for n in (0, 1, 10, 11, 12)}
    for _ in range(5):
        a = {10: h[0] + h[1], 11: h[0], 12: h[0], 0: 0.0, 1: 0.0}
        h = {0: a[10] + a[11] + a[12], 1: a[10], 10: 0.0, 11: 0.0, 12: 0.0}
        sh = sum(h.values())
        h = {n: v / sh for n, v in h.items()}
    sh, sa = sum(h.values()), sum(a.values())
    for n in (0, 1, 10, 11, 12):
        assert out[n]["hub"] == pytest.approx(h[n] / sh, abs=2e-6), n
        assert out[n]["auth"] == pytest.approx(a[n] / sa, abs=2e-6), n
    assert sum(r["hub"] for r in out.values()) == pytest.approx(1.0, abs=1e-5)


def test_connected_components_general_graph(spark):
    """Cycles (NOT a forest), chains, duplicate/reverse edges,
    self-loops and NULL endpoints dropped; component = min node id."""
    from big_data_project_datapipeline_spark.operators.graph import (
        connected_components,
    )

    ed = [
        (1, 2), (2, 3), (3, 1),          # cycle
        (11, 10), (11, 12), (12, 11),    # chain with dup/reverse
        (20, 21),                        # pair
        (5, 5),                          # self-loop: dropped
        (None, 7),                       # NULL endpoint: dropped
    ]
    df = spark.createDataFrame(ed, "src long, dst long")
    got = sorted(
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    )
    assert got == [
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    ], got


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping must converge well under O(diameter) rounds: a
    64-node path needs ~log2(64) pull+jump rounds, inside the default
    max_iters=20; all labels collapse to 0. Plan stays O(1) via the
    per-round localCheckpoint (the round-7 device)."""
    from big_data_project_datapipeline_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    out = connected_components(df)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(64)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 6, plan.count("Exchange")


def test_hits_mid_run_overflow_raises(spark, monkeypatch):
    """ADVICE r6: an INTERMEDIATE decimal overflow NULL-drops sum terms
    and can depress the final maxima below the 1e15 guard, so the fast
    path must also detect NULL scores after the loop (a score NULL
    while its node is PRESENT in the sum frame is overflow, never a
    missing-edge zero). Under Spark 4's default ANSI mode an overflow
    raises at execution instead, so the detector is defense-in-depth
    for non-ANSI deployments — pinned off here to simulate one. The
    accumulator width shrinks to decimal(4,2) (ceiling 99.99) so a
    20-spoke star overflows on sweep 2: h(src) reaches 20, then
    a(dst) = 400's next cast NULLs mid-run while every surviving
    score stays far below any final-maxima threshold."""
    from big_data_project_datapipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_HITS_DEC", "decimal(4,2)")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        edges = spark.createDataFrame(
            [(i, 100) for i in range(20)], "src long, dst long"
        )
        with pytest.raises(ValueError, match="NULL hub/auth"):
            graph.hits(edges, n_iter=3).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_hits_intermediate_overflow_that_heals_raises(spark, monkeypatch):
    """ADVICE r7: the old final-frame presence markers only saw NULLs
    that SURVIVED to the last sweep. Here the overflow NULLs node
    scores mid-run, but every final score is non-NULL (the NULL terms
    were silently dropped by the next sweep's SUM, depressing values)
    and the maxima sit far below 1e15 — the exact hole. The sticky
    per-sweep overflow flag must still raise. Graph: a 20-spoke star
    into 100 overflows decimal(4,2) at sweep 2's hub cast (a(100)=442
    -> NULL), but node 50 also feeds 100 AND the cool node 200, so by
    sweep 3 every hub/auth heals to a depressed non-NULL value
    (hand-traced: spokes h=22, h(50)=44, a(100)=a(200)=22; true
    values are far larger)."""
    from big_data_project_datapipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_HITS_DEC", "decimal(4,2)")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        ed = [(i, 100) for i in range(20)] + [(50, 100), (50, 200)]
        edges = spark.createDataFrame(ed, "src long, dst long")
        with pytest.raises(ValueError, match="overflowed mid-run"):
            graph.hits(edges, n_iter=3).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_connected_components_isolated_nodes(spark):
    """VERDICT r7 item 4: the optional nodes= frame unions degree-0
    vertices (a real entity table always has them) as singleton
    components; edge-defined labels are unchanged; duplicate node
    rows collapse; default call stays edge-defined."""
    from big_data_project_datapipeline_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (7,), (9,), (9,)], "id long"
    )
    got = sorted(
        (r["node"], r["component"])
        for r in connected_components(
            edges, nodes=nodes, node_col="id"
        ).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9)], got
    # default: edge-defined only (q187's plan unchanged)
    assert sorted(
        r["node"] for r in connected_components(edges).collect()
    ) == [1, 2, 3]


def test_connected_components_nonconvergence_raises(spark):
    """ADVICE r7: exhausting max_iters must raise, never silently
    return under-merged labels. A 64-node path needs ~6 pull+jump
    rounds; max_iters=2 cannot finish it."""
    from big_data_project_datapipeline_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(df, max_iters=2).collect()


def test_resolve_dup_clusters_nonconvergence_raises(spark):
    """ADVICE r7: same silent-exhaustion shape as CC — a chain deeper
    than 2^max_iters must raise, not return non-canonical roots."""
    from big_data_project_datapipeline_spark.functions.dedup import (
        resolve_dup_clusters,
    )

    # chain 0 <- 1 <- ... <- 40: depth 40 needs ~6 jumps; 2 is not enough
    rows = [(0, None)] + [(i, i - 1) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, dup_of long")
    with pytest.raises(ValueError, match="did not resolve"):
        resolve_dup_clusters(df, max_iters=2).collect()


def test_pagerank_hits_checkpointed_plan_bounded(spark):
    """Round-8 adjudication: the default checkpoint_every=1 keeps the
    executed plan O(1) in sweep depth (q175's unrolled plan string had
    reached 749 Exchanges — real planner/codegen cost per session even
    though execution was shared via ReusedExchange). Values must be
    bit-identical to the unrolled shape."""
    from big_data_project_datapipeline_spark.operators.graph import (
        hits,
        pagerank,
    )

    ed = [(0, 10), (0, 11), (0, 12), (1, 10), (2, 11), (10, 2)]
    edges = spark.createDataFrame(ed, "src long, dst long")

    pr_c = pagerank(edges, n_iter=3)
    pr_u = pagerank(edges, n_iter=3, checkpoint_every=0)
    assert sorted(map(tuple, pr_c.collect())) == sorted(
        map(tuple, pr_u.collect())
    )
    plan_c = pr_c._jdf.queryExecution().executedPlan().toString()
    plan_u = pr_u._jdf.queryExecution().executedPlan().toString()
    assert plan_c.count("Exchange") < plan_u.count("Exchange")
    assert plan_c.count("Exchange") <= 10, plan_c.count("Exchange")

    h_c = hits(edges, n_iter=3)
    h_u = hits(edges, n_iter=3, checkpoint_every=0)
    assert sorted(map(tuple, h_c.collect())) == sorted(
        map(tuple, h_u.collect())
    )
    hplan_c = h_c._jdf.queryExecution().executedPlan().toString()
    hplan_u = h_u._jdf.queryExecution().executedPlan().toString()
    assert hplan_c.count("Exchange") < hplan_u.count("Exchange")
    assert hplan_c.count("Exchange") <= 160, hplan_c.count("Exchange")


def test_weighted_pagerank_hand_computed(spark):
    """pagerank(weight=): contribution pr·w/Σw; duplicate (src,dst)
    rows SUM their weights; unweighted call on the same graph differs
    (weights matter)."""
    from big_data_project_datapipeline_spark.operators.graph import pagerank

    # 0 -> 1 (w 3), 0 -> 2 (w 1, as two dup rows 0.5+0.5? integral: 1),
    # 1 -> 0 (w 2), 2 -> 0 (w 2); dup edge (0,1) split 2+1 must sum to 3
    ed = [(0, 1, 2), (0, 1, 1), (0, 2, 1), (1, 0, 2), (2, 0, 2)]
    edges = spark.createDataFrame(ed, "src long, dst long, n long")
    out = {
        r["node"]: r["pr"]
        for r in pagerank(edges, n_iter=3, weight="n").collect()
    }
    pr = {0: 1 / 3, 1: 1 / 3, 2: 1 / 3}
    for _ in range(3):
        nxt = {
            0: 0.15 / 3 + 0.85 * (pr[1] * 2 / 2 + pr[2] * 2 / 2),
            1: 0.15 / 3 + 0.85 * (pr[0] * 3 / 4),
            2: 0.15 / 3 + 0.85 * (pr[0] * 1 / 4),
        }
        pr = nxt
    for n in (0, 1, 2):
        assert out[n] == pytest.approx(pr[n], abs=1e-6), n
    # weights change the answer vs unweighted on the same edge set
    unw = {
        r["node"]: r["pr"]
        for r in pagerank(
            spark.createDataFrame(
                [(s, d) for s, d, _ in ed], "src long, dst long"
            ),
            n_iter=3,
        ).collect()
    }
    assert unw[1] == unw[2] and out[1] > out[2]


def test_kcore_peel_cascades_and_guard(spark):
    """2-core: a pendant chain attached to a triangle peels away over
    CASCADING rounds (removing a leaf exposes the next), the triangle
    survives with in-core degree 2; insufficient n_rounds RAISES
    (fixpoint guard), and check_converged=False returns the documented
    superset."""
    from big_data_project_datapipeline_spark.operators.graph import kcore_peel

    # triangle 0-1-2 plus chain 2-3-4-5-6 (leaves peel one per round)
    ed = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    got = sorted(
        (r["node"], r["degree"])
        for r in kcore_peel(edges, k=2, n_rounds=6).collect()
    )
    assert got == [(0, 2), (1, 2), (2, 2)], got
    with pytest.raises(ValueError, match="not at fixpoint"):
        kcore_peel(edges, k=2, n_rounds=1).collect()
    sup = sorted(
        r["node"]
        for r in kcore_peel(
            edges, k=2, n_rounds=1, check_converged=False
        ).collect()
    )
    assert sup == [0, 1, 2, 3, 4, 5], sup  # leaf 6 peeled, rest pending


def test_score_yield_curve_hand_computed(spark):
    """Thresholds sweep one conditional aggregate: NULL scores drop at
    every threshold; weight column sums only kept rows; empty input
    still emits one zero-yield row per threshold."""
    from big_data_project_datapipeline_spark.functions.quality import (
        score_yield_curve,
    )

    rows = [(0.9, 10), (0.5, 20), (0.2, 40), (None, 8)]
    df = spark.createDataFrame(rows, "s double, w long")
    got = {
        r["threshold"]: r
        for r in score_yield_curve(
            df, "s", (0.5, 0.8), weight_col="w"
        ).collect()
    }
    assert got[0.5]["n_rows"] == 4 and got[0.5]["n_weight"] == 78
    assert got[0.5]["rows_kept"] == 2 and got[0.5]["weight_kept"] == 30
    assert got[0.5]["rows_kept_frac"] == 0.5
    assert got[0.8]["rows_kept"] == 1 and got[0.8]["weight_kept"] == 10
    assert got[0.8]["weight_kept_frac"] == round(10 / 78, 6)

    empty = spark.createDataFrame([], "s double, w long")
    erows = score_yield_curve(empty, "s", (0.5, 0.8), weight_col="w").collect()
    assert len(erows) == 2
    assert all(r["rows_kept"] == 0 and r["weight_kept"] == 0 for r in erows)


def test_personalized_pagerank_hand_computed(spark):
    """Seeded star: teleport mass returns ONLY to the seed, so the
    hand-iterated pr = (1-d)·r + d·M·pr with r = e_seed — the ranks a
    global pagerank on the same graph cannot produce (its leaves tie;
    here the non-seed leaves tie with each other but not the seed)."""
    from big_data_project_datapipeline_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    # undirected star: hub 0 — leaves 1..3, symmetric edges; seed {1}
    ed = [(0, i) for i in (1, 2, 3)] + [(i, 0) for i in (1, 2, 3)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(edges, seeds, n_iter=3).collect()
    }
    # hand-iterate: restart r = {1: 1.0}; pr_0 = r; hub deg 3, leaves 1
    r = {0: 0.0, 1: 1.0, 2: 0.0, 3: 0.0}
    pr = dict(r)
    for _ in range(3):
        nxt = {
            0: 0.15 * r[0] + 0.85 * (pr[1] + pr[2] + pr[3]),
            1: 0.15 * r[1] + 0.85 * (pr[0] / 3),
            2: 0.15 * r[2] + 0.85 * (pr[0] / 3),
            3: 0.15 * r[3] + 0.85 * (pr[0] / 3),
        }
        pr = nxt
    for node, want in pr.items():
        assert out[node] == pytest.approx(want, abs=1e-6), node
    # the seed outranks the symmetric leaves; global pagerank ties all 3
    assert out[1] > out[2] == out[3]
    g = {r_["node"]: r_["pr"] for r_ in pagerank(edges, n_iter=3).collect()}
    assert g[1] == g[2] == g[3]


def test_personalized_pagerank_with_every_node_seeded_is_pagerank(spark):
    """With every node a seed the restart vector is uniform, so PPR
    runs pagerank's sweeps: on a directed graph with a dangling node
    the ranks agree per node. Only within 1e-6: PPR's teleport term
    (1-d)·(1/n) and pagerank's (1-d)/n round differently."""
    from big_data_project_datapipeline_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    ed = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1), (4, 2), (1, 4), (3, 5)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    seeds = spark.createDataFrame([(i,) for i in range(6)], "node long")
    g = {r["node"]: r["pr"] for r in pagerank(edges, n_iter=4).collect()}
    p = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(edges, seeds, n_iter=4).collect()
    }
    assert set(p) == set(g) == set(range(6))
    for node, want in g.items():
        assert p[node] == pytest.approx(want, abs=1e-6), node


def test_personalized_pagerank_seed_set_semantics(spark):
    """Duplicate seed rows collapse (|S| counts DISTINCT in-graph
    seeds) and out-of-graph seeds are ignored: seeds {1,1,99} on the
    star ≡ seeds {1} exactly."""
    from big_data_project_datapipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    ed = [(0, i) for i in (1, 2, 3)] + [(i, 0) for i in (1, 2, 3)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    noisy = spark.createDataFrame([(1,), (1,), (99,)], "node long")
    clean = spark.createDataFrame([(1,)], "node long")
    a = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(edges, noisy, n_iter=3).collect()
    }
    b = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(edges, clean, n_iter=3).collect()
    }
    assert a == b
    # two in-graph seeds split the restart mass: 1/|S| each
    two = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(
            edges,
            spark.createDataFrame([(1,), (2,)], "node long"),
            n_iter=1,
        ).collect()
    }
    # pr_0 = {1: .5, 2: .5}; sweep: 0 <- .85*(.5+.5), 1/2 <- .15*.5
    assert two[0] == pytest.approx(0.85, abs=1e-6)
    assert two[1] == two[2] == pytest.approx(0.075, abs=1e-6)
    assert two[3] == 0.0


def test_personalized_pagerank_no_seed_raises_and_releases(spark):
    """No seed in the graph's node set raises ValueError, and the
    error path unpersists the edge/node frames it built (ADVICE r8:
    leak-on-raise) — no NEW persistent RDD ids survive the call."""
    from big_data_project_datapipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    ed = [(0, 1), (1, 0)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(edges, seeds, n_iter=2)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    leaked = after - before
    assert not leaked, f"persisted RDDs leaked past the raise: {leaked}"


def test_pagerank_weight_validation_raises_and_releases(spark):
    """NULL, zero, and negative edge weights each raise (ADVICE r8:
    silently-dropped NULL contributions / broken stochastic matrix),
    and the raise path leaks no persisted frame."""
    from big_data_project_datapipeline_spark.operators.graph import pagerank

    for bad in (None, 0, -2):
        ed = [(0, 1, 1), (1, 0, bad)]
        edges = spark.createDataFrame(ed, "src long, dst long, n long")
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        with pytest.raises(ValueError, match="weights must be"):
            pagerank(edges, n_iter=2, weight="n")
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        leaked = after - before
        assert not leaked, (bad, leaked)


def test_connected_components_nonconvergence_releases(spark):
    """The max_iters-exhausted raise (round-8 guard) unpersists the
    symmetrized edge frame AND eagerly frees every per-round
    localCheckpoint snapshot before raising (VERDICT r11 item 2:
    releases are blocking via the LogicalRDD handle, not
    ContextCleaner GC — no drain poll, deterministic in any session
    no matter how many RDD ids have cycled)."""
    from big_data_project_datapipeline_spark.operators.graph import (
        connected_components,
    )

    ed = [(i, i + 1) for i in range(64)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(edges, max_iters=2)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    leaked = after - before
    assert not leaked, f"persisted RDDs leaked past the raise: {leaked}"


def test_connected_components_bounds_in_loop_storage(spark):
    """Superseded per-round snapshots free INSIDE the loop: after a
    converged run, at most the final round's snapshot plus the
    released-on-GC result handle remain — never one block set per
    round (the executor-storage bound the eager release buys)."""
    from big_data_project_datapipeline_spark.operators.graph import (
        connected_components,
    )

    # a 64-node path needs several pointer-jumping rounds to converge
    ed = [(i, i + 1) for i in range(64)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    out = connected_components(edges, max_iters=20)
    assert out.count() == 65
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    # live: the persisted sym frame (released with the result handle)
    # + the final round's snapshot backing `out`. Everything earlier
    # was freed in-loop.
    assert len(after - before) <= 2, sorted(after - before)


def test_connected_components_null_node_id_dropped(spark):
    """A NULL id in the optional nodes= frame drops, matching the edge
    path's NULL-endpoint filter (ADVICE r8: it used to emit a
    (NULL, NULL) singleton component)."""
    from big_data_project_datapipeline_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    nodes = spark.createDataFrame(
        [(0,), (1,), (7,), (None,)], "node long"
    )
    got = sorted(
        (r["node"], r["component"])
        for r in connected_components(edges, nodes=nodes).collect()
    )
    assert got == [(0, 0), (1, 0), (7, 7)], got


def test_vocab_coverage_curve_hand_computed(spark):
    """The q194 composition on a 3-doc corpus: explode whitespace
    tokens → frequency table → score_yield_curve(freq, weight=freq).
    Hand-computed: tokens a×4 b×2 c×1 (7 total); cutoff 2 keeps
    {a, b} = 2/3 vocab covering 6/7 tokens; cutoff 4 keeps {a}."""
    from big_data_project_datapipeline_spark.functions import text as TX
    from big_data_project_datapipeline_spark.functions.quality import (
        score_yield_curve,
    )

    docs = spark.createDataFrame(
        [("A a b",), ("a B",), ("a c",)], "text string"
    )
    freqs = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    got = {
        r["threshold"]: r
        for r in score_yield_curve(
            freqs, "freq", (2.0, 4.0), weight_col="freq"
        ).collect()
    }
    assert got[2.0]["n_rows"] == 3 and got[2.0]["n_weight"] == 7
    assert got[2.0]["rows_kept"] == 2 and got[2.0]["weight_kept"] == 6
    assert got[2.0]["weight_kept_frac"] == round(6 / 7, 6)
    assert got[4.0]["rows_kept"] == 1 and got[4.0]["weight_kept"] == 4
    assert got[4.0]["weight_kept_frac"] == round(4 / 7, 6)


def test_textrank_edge_construction_and_ranks(spark):
    """q195's co-occurrence construction on a hand corpus: window-2
    pairs via lead(1)/lead(2) per doc, NULL tails dropped — the edge
    stream a position self-join would need a range join for."""
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a"), (3, "d")],
        "doc_id long, text string",
    )
    # replicate the query body on the tiny frame
    tk = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("pos", "tok"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prs = tk.select(
        "tok",
        F.lead("tok", 1).over(w).alias("n1"),
        F.lead("tok", 2).over(w).alias("n2"),
    )
    got = sorted(
        ((r["tok"], r["n1"], r["n2"]) for r in prs.collect()),
        key=lambda t: tuple(x or "" for x in t),
    )
    # doc1 "a b a c": (a,b,a),(b,a,c),(a,c,None),(c,None,None)
    # doc2 "b a": (b,a,None),(a,None,None); doc3 "d": (d,None,None)
    assert got == [
        ("a", None, None), ("a", "b", "a"), ("a", "c", None),
        ("b", "a", None), ("b", "a", "c"), ("c", None, None),
        ("d", None, None),
    ]
    # edge stream: self-pairs dropped, NULL leads dropped — token "d"
    # (no neighbor) never enters the graph
    ed0 = prs.filter(
        F.col("n1").isNotNull() & (F.col("n1") != F.col("tok"))
    ).select(F.col("tok").alias("src"), F.col("n1").alias("dst")).unionAll(
        prs.filter(
            F.col("n2").isNotNull() & (F.col("n2") != F.col("tok"))
        ).select(F.col("tok").alias("src"), F.col("n2").alias("dst"))
    )
    edges = sorted((r["src"], r["dst"]) for r in ed0.collect())
    assert edges == [
        ("a", "b"), ("a", "c"), ("b", "a"), ("b", "a"), ("b", "c"),
    ]
    assert not any("d" in e for e in edges)


def test_dup_cluster_sizes_hand_computed(spark):
    """q196's histogram tail on a hand forest: clusters {1,2,3} and
    {10}, {11} → one 3-cluster, two singletons."""
    from big_data_project_datapipeline_spark.functions.dedup import (
        resolve_dup_clusters,
    )

    decision = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (10, None), (11, None)],
        "doc_id long, dup_of long",
    )
    sizes = (
        resolve_dup_clusters(decision)
        .groupBy("cluster_root")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    got = sorted(
        (r["cluster_size"], r["n_clusters"])
        for r in sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .collect()
    )
    assert got == [(1, 2), (3, 1)]


def test_lsh_bucket_stats_hand_computed(spark):
    """q197's accounting on a hand frame: bucket sizes {3, 2, 1} in
    band 0 → candidate_pairs 3·2/2=3 and 2·1/2=1, integer-exact."""
    from big_data_project_datapipeline_spark.functions.dedup import (
        banded_rows,
    )

    # synthetic 4-hash signatures, band_size 2 → 2 bands
    rows = [
        (1, 7, 7, 1, 1), (2, 7, 7, 2, 2), (3, 7, 7, 3, 3),
        (4, 8, 8, 1, 1), (5, 8, 8, 9, 9),
    ]
    sigs = spark.createDataFrame(
        rows, "doc_id long, mh0 long, mh1 long, mh2 long, mh3 long"
    )
    banded = banded_rows(sigs, "doc_id", num_hashes=4, band_size=2)
    bs = banded.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    out = bs.groupBy("band", "bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.expr("(bucket_size * (bucket_size - 1)) div 2")
        ).alias("candidate_pairs"),
    )
    got = sorted(
        (r["band"], r["bucket_size"], r["n_buckets"], r["candidate_pairs"])
        for r in out.collect()
    )
    # band 0: {7|7}×3, {8|8}×2; band 1: {1|1}×2, {2|2},{3|3},{9|9}
    assert got == [
        (0, 2, 1, 1), (0, 3, 1, 3),
        (1, 1, 3, 0), (1, 2, 1, 1),
    ]


def test_local_clustering_hand_computed(spark):
    """Triangle 0-1-2 with pendant 2-3: coefficients 1.0 / 1.0 / 1/3 /
    0.0 (degree-1 node defined 0), per-node triangle credits sum to
    3x the global census. The sum also holds on K4 {0,1,2,3} plus
    triangle 3-4-5 plus a star at 0 (5 triangles), with reversed
    duplicates, a self-loop and NULL endpoints mixed in."""
    from big_data_project_datapipeline_spark.operators.graph import (
        local_clustering,
        triangle_count,
    )

    ed = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 2)]  # dup direction absorbed
    edges = spark.createDataFrame(ed, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in local_clustering(edges).collect()
    }
    assert got[0] == (2, 1, 1.0)
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (3, 1, pytest.approx(1 / 3, abs=1e-12))
    assert got[3] == (1, 0, 0.0)
    n_tri = triangle_count(edges).first()["n_triangles"]
    assert sum(t for (_, t, _) in got.values()) == 3 * n_tri == 3

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    ed = (
        k4
        + [(b, a) for a, b in k4]
        + [(3, 4), (4, 5), (5, 3)]
        + [(0, 6), (0, 7), (8, 0)]
        + [(2, 2), (None, 4), (5, None)]
    )
    edges = spark.createDataFrame(ed, "src long, dst long")
    census = triangle_count(edges).first()
    assert (census["n_nodes"], census["n_edges"], census["n_triangles"]) == (
        9, 12, 5
    )
    credits = [r["triangles"] for r in local_clustering(edges).collect()]
    assert len(credits) == 9
    assert sum(credits) == 3 * census["n_triangles"]


def test_degree_assortativity_star_is_minus_one(spark):
    """The q199 moment device on a star graph: perfectly
    disassortative (r = -1), hand-traced sums (n=6, sx=sy=12, sxy=18,
    sxx=syy=30)."""
    ed = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(ed, "src long, dst long")
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    j = sym.join(
        deg.select("src", F.col("d").alias("x")), "src"
    ).join(
        deg.select(F.col("src").alias("dst"), F.col("d").alias("y")), "dst"
    )
    dec = "decimal(38,0)"
    s = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
    ).first()
    assert (s["n"], s["sx"], s["sxy"], s["sxx"]) == (6.0, 12.0, 18.0, 30.0)
    r = (s["n"] * s["sxy"] - s["sx"] * s["sy"]) / (
        (s["n"] * s["sxx"] - s["sx"] ** 2) ** 0.5
        * (s["n"] * s["syy"] - s["sy"] ** 2) ** 0.5
    )
    assert r == pytest.approx(-1.0, abs=1e-12)


def test_corpus_dedup_summary_hand_computed(spark, tmp_path):
    """q200 on a 3-doc corpus written as a real documents table:
    d2 is a token-set clone of d1 (identical set, different order —
    J = 1.0, signature-identical, so the LSH candidate is GUARANTEED
    rather than band-probabilistic), d3 distinct — hand-computed
    doc/token/cluster numbers."""
    import __spark_entry__ as em

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j", "en", "s", 19),
            (2, "j i h g f e d c b a", "en", "s", 19),
            (3, "x y z w", "en", "s", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    row = em.q200_corpus_dedup_summary(spark, str(tmp_path)).first()
    assert row["n_docs"] == 3 and row["n_dup_docs"] == 1
    assert row["n_tokens"] == 24 and row["dup_tokens"] == 10
    assert row["dup_token_frac"] == round(10 / 24, 6)
    assert row["n_clusters_multi"] == 1 and row["max_cluster_size"] == 2


def test_item_item_cosine_hand_computed(spark):
    """Baskets {A,B},{A,B},{A,C}: pair AB survives min_pair_count=2
    with cos = 2/sqrt(3·2) = 0.816497; AC (1 basket) is cut. A
    duplicate item row inside a basket counts once (set semantics)."""
    from big_data_project_datapipeline_spark.operators.market import (
        item_item_cosine,
    )

    lines = spark.createDataFrame(
        [(1, "A"), (1, "B"), (1, "A"), (2, "A"), (2, "B"), (3, "A"), (3, "C")],
        "b long, i string",
    )
    out = item_item_cosine(lines, "b", "i", min_pair_count=2, top_k=10)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["item_a"], r["item_b"], r["pair_n"], r["n_a"], r["n_b"]) == (
        "A", "B", 2, 3, 2,
    )
    assert r["cosine"] == 0.816497


def test_item_item_cosine_top_k_total_order_tie_break(spark):
    """Two pairs with identical cosine 1.0: the top_k=1 cut keeps the
    (item_a, item_b)-smallest — the deterministic tie-break that makes
    the kept SET engine-reproducible."""
    from big_data_project_datapipeline_spark.operators.market import (
        item_item_cosine,
    )

    lines = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A"), (2, "B"),
         (3, "C"), (3, "D"), (4, "C"), (4, "D")],
        "b long, i string",
    )
    out = item_item_cosine(lines, "b", "i", min_pair_count=2, top_k=1)
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0]["item_a"], rows[0]["item_b"]) == ("A", "B")
    assert rows[0]["cosine"] == 1.0


def test_skyline_2d_matches_definitional_dominance(spark):
    """Mixed fixture with duplicate x values, duplicate (x, y) points,
    and a dominated interior: the sweep's kept set equals the
    definitional not-exists dominance set (exact duplicates are
    mutually non-dominating and ALL survive)."""
    from big_data_project_datapipeline_spark.operators.market import (
        skyline_2d,
    )

    pts = [
        ("a", 1.0, 5.0), ("b", 2.0, 3.0), ("c", 3.0, 3.0),
        ("d", 4.0, 1.0), ("e", 2.0, 6.0), ("f", 4.0, 1.0),
        ("g", 0.5, 9.0), ("h", 5.0, 0.5), ("i", 2.0, 3.0),
        ("j", 6.0, 2.0),
    ]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = sorted(r["id"] for r in skyline_2d(df, "x", "y").collect())

    def dom(q, p):
        return (
            q[1] <= p[1]
            and q[2] <= p[2]
            and (q[1] < p[1] or q[2] < p[2])
        )

    ref = sorted(
        p[0] for p in pts if not any(dom(q, p) for q in pts)
    )
    assert got == ref == ["a", "b", "d", "f", "g", "h", "i"]


def test_skyline_2d_null_nan_rows_drop(spark):
    from big_data_project_datapipeline_spark.operators.market import (
        skyline_2d,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("b", None, 0.1), ("c", 0.1, float("nan"))],
        ["id", "x", "y"],
    )
    assert [r["id"] for r in skyline_2d(df, "x", "y").collect()] == ["a"]


# ---------------- co-occurrence pair device


def _basket_lines(spark):
    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20), (3, 40),
        (4, 30), (4, 40),
        (5, 10), (5, 10),  # duplicate item in one basket collapses
        (6, 50),           # singleton basket contributes no pair
    ]
    return spark.createDataFrame(rows, ["basket", "item"])


def test_pair_stats_edges_equal_selfjoin_support_device(spark):
    """The support>=2 graph family contract: the pairs the lift
    operator's map-side pair device counts are exactly the
    within-basket self-join device's pair set (distinct items per
    basket, a < b, count >= 2 across baskets) — so q79/q213 and the
    q121/q198/q199/q207/q214 wedge/graph consumers see one pair set."""
    from big_data_project_datapipeline_spark.operators.market import (
        copurchase_lift,
    )

    lines = _basket_lines(spark)
    op = lines.select("basket", "item").distinct()
    a = op.select(F.col("basket").alias("k"), F.col("item").alias("src"))
    b = op.select(F.col("basket").alias("k"), F.col("item").alias("dst"))
    selfjoin = (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .collect()
    )
    stats = copurchase_lift(lines, "basket", "item", min_pair_count=2)
    derived = stats.select(
        F.col("item_a").alias("src"),
        F.col("item_b").alias("dst"),
        F.col("pair_n").alias("n"),
    ).collect()
    assert sorted(map(tuple, derived)) == sorted(map(tuple, selfjoin))
    assert len(selfjoin) > 0


def test_degree_assortativity_star_is_minus_one(spark):
    """A star K_{1,3} is perfectly disassortative: every symmetrized
    edge pairs the degree-3 hub with a degree-1 leaf, so the endpoint
    degree correlation is exactly -1 (Newman 2002). n_edges counts the
    symmetrized list (2m = 6)."""
    from big_data_project_datapipeline_spark.operators.graph import (
        degree_assortativity,
    )

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    r = degree_assortativity(edges).first()
    assert r["n_edges"] == 6
    assert r["assortativity"] == -1.0


def test_copurchase_lift_requires_input(spark):
    from big_data_project_datapipeline_spark.operators.market import (
        copurchase_lift,
    )

    with pytest.raises(TypeError, match="lines"):
        copurchase_lift()


# --------------- embedding outlier audit (q225 composition, round-10)


def test_embedding_outliers_flags_far_vector_per_cluster(spark):
    """Two well-separated clusters with different scales plus one wild
    vector: the per-cluster p90 cut flags the wild vector and does NOT
    flag the loose-but-normal cluster (a global cut would)."""
    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_rank_elements,
    )
    from big_data_project_datapipeline_spark.functions.similarity import (
        kmeans_assign_relational,
    )

    rows = []
    # tight cluster near (0,0): ids 0..9 (id 0,1 seed the two clusters)
    for i in range(10):
        rows.append((i, [0.01 * i, 0.0]))
    # loose cluster near (10,10): ids 10..19
    for i in range(10):
        rows.append((10 + i, [10.0 + 0.5 * i, 10.0]))
    # MODERATE outlier: far enough to flag (dist2 ~20 vs ~0.2 for the
    # tight cluster), near enough that it cannot capture a centroid —
    # an extreme point becomes its own cluster with dist2=0 (the known
    # limitation of centroid-based outlier scoring, verified while
    # building this fixture)
    rows.append((99, [0.0, 5.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = kmeans_assign_relational(emb, k=2, n_iter=2)
    thr = grouped_rank_elements(
        base, ["cluster"], "dist2", [(90, 100, "thr")]
    )
    from pyspark.sql import functions as FF

    out = {
        r["vec_id"]: (r["cluster"], r["is_outlier"])
        for r in base.join(thr, "cluster")
        .select(
            "vec_id", "cluster",
            (FF.col("dist2") > FF.col("thr")).alias("is_outlier"),
        )
        .collect()
    }
    assert out[99][1] is True
    # every loose-cluster member is at or below its own p90 except at
    # most one (the nearest-rank cut keeps >= 90% unflagged per cluster)
    loose = [v for k, v in out.items() if 10 <= k <= 19]
    assert sum(1 for _, o in loose if o) <= 1
    tight = [v for k, v in out.items() if k <= 9]
    assert sum(1 for _, o in tight if o) <= 1


def test_embedding_outlier_threshold_is_exact_rank_element(spark):
    """The p90 threshold must be an actual dist2 VALUE from the
    cluster (nearest-rank element, never an interpolation)."""
    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_rank_elements,
    )

    rows = [("c", float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "cluster string, dist2 double")
    thr = grouped_rank_elements(
        df, ["cluster"], "dist2", [(90, 100, "thr")]
    ).first()
    # ceil(0.9 * 10) = 9 -> the 9th smallest of 1..10 is 9.0
    assert thr["thr"] == 9.0
