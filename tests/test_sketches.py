"""Deterministic mergeable sketches (functions/sketches): register-level
python mirrors, the merge laws (HLL max / CM sum), the CM one-sided
error, and the small-range correction path."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.sketches import (
    countmin_counters,
    countmin_lookup,
    hll_alpha,
    hll_estimate,
    hll_registers,
)


def _h60(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)


def _py_registers(keys, p=6):
    q = 60 - p
    regs = {}
    for k in keys:
        h = _h60(k)
        b = h >> q
        w = h % (1 << q)
        rk = (q + 1) if w == 0 else q - w.bit_length() + 1
        regs[b] = max(regs.get(b, 0), rk)
    return [regs.get(b, 0) for b in range(1 << p)]


def _py_estimate(regs, p=6):
    q = 60 - p
    m = 1 << p
    isum = sum(1 << (q + 1 - r) for r in regs)
    v = sum(1 for r in regs if r == 0)
    raw = hll_alpha(p) * m * m * (1 << (q + 1)) / isum
    if raw <= 2.5 * m and v > 0:
        return m * math.log(m / v)
    return raw


def _kv(spark, keys, grp="g"):
    return spark.createDataFrame(
        [(grp, k) for k in keys], "grp string, k long"
    )


class TestHll:
    def test_registers_match_python_mirror(self, spark):
        keys = list(range(100, 400))
        out = hll_registers(_kv(spark, keys), "k", ["grp"], p=6).collect()
        want = _py_registers(keys)
        got = {r["bucket"]: r["r"] for r in out}
        assert len(out) == 64
        assert [got[b] for b in range(64)] == want

    def test_estimate_matches_python_mirror(self, spark):
        keys = list(range(5000))
        regs = hll_registers(_kv(spark, keys), "k", ["grp"], p=6)
        out = hll_estimate(regs, ["grp"], p=6).first()
        want = _py_estimate(_py_registers(keys))
        assert out["estimate"] == round(want, 6)
        # p=6 typical error ~1.04/sqrt(64) = 13%; assert a loose bound
        assert abs(out["estimate"] - 5000) / 5000 < 0.35

    def test_small_range_correction_path(self, spark):
        keys = list(range(10))
        regs = hll_registers(_kv(spark, keys), "k", ["grp"], p=6)
        out = hll_estimate(regs, ["grp"], p=6).first()
        assert out["n_empty"] > 0
        want = _py_estimate(_py_registers(keys))
        assert out["estimate"] == round(want, 6)
        # linear counting is tight at tiny cardinalities
        assert abs(out["estimate"] - 10) < 2.0

    def test_merge_is_elementwise_max(self, spark):
        a = list(range(0, 800))
        b = list(range(400, 1200))  # overlapping halves
        ra = hll_registers(_kv(spark, a), "k", ["grp"], p=6)
        rb = hll_registers(_kv(spark, b), "k", ["grp"], p=6)
        merged = (
            ra.unionByName(rb)
            .groupBy("grp", "bucket")
            .agg(F.max("r").alias("r"))
        )
        est_m = hll_estimate(merged, ["grp"], p=6).first()["estimate"]
        est_full = hll_estimate(
            hll_registers(_kv(spark, a + b), "k", ["grp"], p=6),
            ["grp"],
            p=6,
        ).first()["estimate"]
        assert est_m == est_full  # union of parts == whole, exactly

    def test_duplicates_do_not_move_registers(self, spark):
        keys = list(range(50))
        once = hll_estimate(
            hll_registers(_kv(spark, keys), "k", ["grp"], p=6), ["grp"], p=6
        ).first()["estimate"]
        thrice = hll_estimate(
            hll_registers(_kv(spark, keys * 3), "k", ["grp"], p=6),
            ["grp"],
            p=6,
        ).first()["estimate"]
        assert once == thrice


class TestRollingHll:
    def _ev(self, spark, rows):
        import datetime as dt

        return spark.createDataFrame(
            [
                ("a", dt.datetime(2024, 1, d, 12, 0), u)
                for d, u in rows
            ],
            "event_type string, ts timestamp, user_id long",
        )

    def _roll(self, spark, rows, window_days=7):
        from big_data_project_datapipeline_spark.functions.sketches import (
            rolling_hll_distinct,
        )
        out = rolling_hll_distinct(
            self._ev(spark, rows),
            "user_id",
            "event_type",
            "ts",
            window_days=window_days,
            p=6,
        ).collect()
        return {r["day"].day: r for r in out}

    def test_trailing_merge_equals_batch_union(self, spark):
        # day 1: users 0..99, day 3: users 50..149. Day 3's trailing
        # estimate must BIT-equal the batch estimate over the union.
        rows = [(1, u) for u in range(100)] + [
            (3, u) for u in range(50, 150)
        ]
        got = self._roll(spark, rows)
        union_est = hll_estimate(
            hll_registers(
                _kv(spark, list(range(150))), "k", ["grp"], p=6
            ),
            ["grp"],
            p=6,
        ).first()["estimate"]
        assert got[3]["estimate"] == union_est
        assert got[3]["n_days_merged"] == 2
        # day 1 sees only itself
        assert got[1]["n_days_merged"] == 1
        day1_est = hll_estimate(
            hll_registers(
                _kv(spark, list(range(100))), "k", ["grp"], p=6
            ),
            ["grp"],
            p=6,
        ).first()["estimate"]
        assert got[1]["estimate"] == day1_est

    def test_gap_days_not_reported_window_expires(self, spark):
        rows = [(1, 1), (2, 2), (12, 3)]
        got = self._roll(spark, rows)
        # days 3..11 have no events -> no report rows
        assert set(got) == {1, 2, 12}
        # day 12 is past day 2 + 6 -> window expired, only its own day
        assert got[12]["n_days_merged"] == 1
        assert got[2]["n_days_merged"] == 2


class TestKmv:
    def _sketch_set(self, spark, keys, k=64):
        from big_data_project_datapipeline_spark.functions.sketches import (
            kmv_sketch,
        )
        rows = kmv_sketch(
            _kv(spark, keys), "k", ["grp"], k=k, hll_p=6
        ).collect()
        return sorted(r["h"] for r in rows)

    def test_matches_unfiltered_bottom_k(self, spark):
        # D=300 vs k=64: the HLL-guided prefilter must clip nothing
        keys = list(range(300))
        want = sorted(_h60(x) for x in keys)[:64]
        assert self._sketch_set(spark, keys, k=64) == want

    def test_small_group_keeps_everything(self, spark):
        keys = [1, 2, 3, 4, 5]
        assert self._sketch_set(spark, keys, k=64) == sorted(
            _h60(x) for x in keys
        )

    def test_merge_law_bottom_k_of_parts(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            kmv_sketch,
        )
        from pyspark.sql import Window

        a, b = list(range(0, 500)), list(range(250, 800))
        sa = kmv_sketch(_kv(spark, a), "k", ["grp"], k=64, hll_p=6)
        sb = kmv_sketch(_kv(spark, b), "k", ["grp"], k=64, hll_p=6)
        w = Window.partitionBy("grp").orderBy("h")
        merged = (
            sa.unionByName(sb)
            .distinct()
            .select("grp", "h", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 64)
        )
        got = sorted(r["h"] for r in merged.collect())
        assert got == self._sketch_set(spark, a + b, k=64)

    def test_pair_overlap_exact_when_sketches_complete(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            kmv_pair_overlap,
            kmv_sketch,
        )
        rows = [("a", k) for k in range(30)] + [
            ("b", k) for k in range(20, 50)
        ]
        df = spark.createDataFrame(rows, "grp string, k long")
        sk = kmv_sketch(df, "k", ["grp"], k=256)
        out = kmv_pair_overlap(sk, "grp", k=256).first()
        # |A|=30, |B|=30, inter=10, union=50 — everything fits in k
        assert out["n_union_sample"] == 50
        assert out["jaccard_est"] == 0.2
        assert out["inter_est"] == 10.0

    def test_pair_overlap_estimates_large_overlap(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            kmv_pair_overlap,
            kmv_sketch,
        )
        rows = [("a", k) for k in range(4000)] + [
            ("b", k) for k in range(2000, 6000)
        ]
        df = spark.createDataFrame(rows, "grp string, k long")
        sk = kmv_sketch(df, "k", ["grp"], k=256)
        out = kmv_pair_overlap(sk, "grp", k=256).first()
        # true: union 6000, inter 2000, J = 1/3
        assert abs(out["inter_est"] - 2000) / 2000 < 0.35
        assert abs(out["jaccard_est"] - 1 / 3) < 0.12


class TestBloom:
    def _bits(self, spark, keys, m=256, d=3):
        from big_data_project_datapipeline_spark.functions.sketches import (
            bloom_positions,
        )
        return bloom_positions(
            _kv(spark, keys), "k", ["grp"], m_bits=m, depth=d
        )

    def _probe(self, spark, bits, keys, m=256, d=3):
        from big_data_project_datapipeline_spark.functions.sketches import (
            bloom_probe,
        )
        probes = _kv(spark, keys).distinct()
        out = bloom_probe(bits, probes, "k", ["grp"], m_bits=m, depth=d)
        return {r["k"]: r["maybe"] for r in out.collect()}

    def test_no_false_negatives_ever(self, spark):
        keys = list(range(200))
        # tiny array, heavy collisions — members must still ALL pass
        bits = self._bits(spark, keys, m=64)
        got = self._probe(spark, bits, keys, m=64)
        assert all(got[k] for k in keys)

    def test_nonmembers_mostly_rejected_when_sparse(self, spark):
        keys = list(range(20))
        bits = self._bits(spark, keys, m=4096)
        got = self._probe(spark, bits, list(range(1000, 1200)), m=4096)
        # theoretical fpr at d=3, n=20, m=4096 is ~1e-7; 200 probes
        assert sum(got.values()) == 0

    def test_merge_is_bitwise_or(self, spark):
        a, b = list(range(0, 50)), list(range(25, 80))
        merged = (
            self._bits(spark, a)
            .unionByName(self._bits(spark, b))
            .distinct()
        )
        full = self._bits(spark, a + b)
        assert (
            merged.exceptAll(full).count() == 0
            and full.exceptAll(merged).count() == 0
        )

    def test_duplicate_probe_rows_still_match(self, spark):
        # regression: duplicated probe rows used to multiply cells and
        # push nhit past depth, flipping true members to False
        from big_data_project_datapipeline_spark.functions.sketches import (
            bloom_probe,
        )
        keys = list(range(30))
        bits = self._bits(spark, keys, m=1024)
        probes = _kv(spark, [5, 5, 5, 6, 9999])  # dup members + one miss
        out = {
            r["k"]: r["maybe"]
            for r in bloom_probe(
                bits, probes, "k", ["grp"], m_bits=1024, depth=3
            ).collect()
        }
        assert out[5] and out[6] and not out[9999]
        assert len(out) == 3  # verdicts deduped

    def test_sparse_bound(self, spark):
        keys = list(range(10))
        bits = self._bits(spark, keys, m=4096, d=3)
        assert bits.count() <= 30  # at most d*n positions


class TestCountMin:
    def test_row_sums_count_every_row(self, spark):
        keys = [1, 1, 1, 2, 2, 3, 4, 5, 5, 5]
        c = countmin_counters(
            _kv(spark, keys), "k", ["grp"], depth=3, width=16
        )
        sums = (
            c.groupBy("sketch_row").agg(F.sum("c").alias("s")).collect()
        )
        assert len(sums) == 3 and all(r["s"] == 10 for r in sums)
        # complete grid: 3 x 16 cells present
        assert c.count() == 48

    def test_merge_is_elementwise_sum(self, spark):
        a, b = [1, 2, 3, 3], [3, 4, 4, 5]
        ca = countmin_counters(_kv(spark, a), "k", ["grp"], 3, 16)
        cb = countmin_counters(_kv(spark, b), "k", ["grp"], 3, 16)
        merged = (
            ca.unionByName(cb)
            .groupBy("grp", "sketch_row", "bucket")
            .agg(F.sum("c").alias("c"))
        )
        full = countmin_counters(_kv(spark, a + b), "k", ["grp"], 3, 16)
        diff = (
            merged.join(
                full.withColumnRenamed("c", "cf"),
                ["grp", "sketch_row", "bucket"],
            )
            .filter(F.col("c") != F.col("cf"))
            .count()
        )
        assert diff == 0

    def test_lookup_never_underestimates(self, spark):
        import random

        rng = random.Random(177)
        keys = [rng.randrange(40) for _ in range(500)]
        df = _kv(spark, keys)
        # narrow sketch -> guaranteed collisions (40 keys, 16 buckets)
        c = countmin_counters(df, "k", ["grp"], depth=3, width=16)
        probes = df.select("grp", "k").distinct()
        est = countmin_lookup(c, probes, "k", ["grp"], 3, 16)
        exact = df.groupBy("grp", "k").agg(F.count(F.lit(1)).alias("n"))
        bad = (
            est.join(exact, ["grp", "k"])
            .filter(F.col("cm_estimate") < F.col("n"))
            .count()
        )
        assert bad == 0

    def test_wide_sketch_exact_for_fixed_keys(self, spark):
        # deterministic hashes: this key set is collision-free at
        # width 512 (verified once; pinned as a regression oracle)
        keys = [10, 20, 30, 40, 50] * 4
        df = _kv(spark, keys)
        c = countmin_counters(df, "k", ["grp"], depth=3, width=512)
        est = countmin_lookup(
            c, df.select("grp", "k").distinct(), "k", ["grp"], 3, 512
        )
        rows = est.collect()
        assert len(rows) == 5 and all(r["cm_estimate"] == 4 for r in rows)


class TestReadPathContracts:
    """ADVICE r5 contract fixes: the sketch READ paths must agree with
    their writers about NULL keys and missing groups."""

    def test_countmin_lookup_missing_group_estimates_zero(self, spark):
        df = _kv(spark, [1, 2, 3], grp="g")
        c = countmin_counters(df, "k", ["grp"], depth=3, width=16)
        probes = spark.createDataFrame(
            [("g", 1), ("ghost", 1)], "grp string, k long"
        )
        got = {
            (r["grp"], r["k"]): r["cm_estimate"]
            for r in countmin_lookup(c, probes, "k", ["grp"], 3, 16).collect()
        }
        # the never-sketched group returns the CORRECT estimate 0
        # (empty-stream sketch counts nothing), not a vanished row
        assert got[("ghost", 1)] == 0
        assert got[("g", 1)] >= 1

    def test_countmin_lookup_null_probe_filtered(self, spark):
        df = _kv(spark, [1, 2, 3], grp="g")
        c = countmin_counters(df, "k", ["grp"], depth=3, width=16)
        probes = spark.createDataFrame(
            [("g", 1), ("g", None)], "grp string, k long"
        )
        rows = countmin_lookup(c, probes, "k", ["grp"], 3, 16).collect()
        assert [r["k"] for r in rows] == [1]

    def test_bloom_probe_null_key_filtered(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            bloom_positions,
            bloom_probe,
        )

        df = _kv(spark, [1, 2, 3], grp="g")
        bits = bloom_positions(df, "k", ["grp"], m_bits=256, depth=3)
        probes = spark.createDataFrame(
            [("g", 1), ("g", None)], "grp string, k long"
        )
        rows = bloom_probe(bits, probes, "k", ["grp"], 256, 3).collect()
        # the writer never hashes NULLs, so the reader never answers
        # for them — no meaningless maybe=False row
        assert [(r["k"], r["maybe"]) for r in rows] == [(1, True)]

    def test_rolling_hll_all_null_day_is_not_a_report_day(self, spark):
        import datetime as dt

        from big_data_project_datapipeline_spark.functions.sketches import (
            rolling_hll_distinct,
        )

        df = spark.createDataFrame(
            [
                ("a", dt.datetime(2024, 1, 1, 12), 1),
                ("a", dt.datetime(2024, 1, 1, 13), 2),
                # day 2: EVERY event null-keyed -> must not report
                ("a", dt.datetime(2024, 1, 2, 12), None),
            ],
            "event_type string, ts timestamp, user_id long",
        )
        out = rolling_hll_distinct(
            df, "user_id", "event_type", "ts", window_days=7, p=6
        ).collect()
        assert [r["day"].day for r in out] == [1]
        assert out[0]["n_days_merged"] == 1


class TestKmvSetDifference:
    """kmv_set_difference: with fewer than k distinct keys per group
    the union sample is complete and every estimate is EXACT — pin
    against hand-computed set algebra; plus the _kmv_pair_stats
    invariant na + nb − nboth == n_union_sample."""

    def _sketches(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            kmv_sketch,
        )

        # A = {1..10}, B = {6..20}: |A\B| = 5, |B\A| = 10, symdiff 15
        rows = [("a", i) for i in range(1, 11)] + [
            ("b", i) for i in range(6, 21)
        ]
        df = spark.createDataFrame(rows, "grp string, k long")
        return kmv_sketch(df, "k", ["grp"], k=256, hll_p=6)

    def test_exact_when_sample_complete(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            kmv_set_difference,
        )

        out = kmv_set_difference(self._sketches(spark), "grp", k=256).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["grp_a"], r["grp_b"]) == ("a", "b")
        assert r["n_union_sample"] == 20
        assert r["only_a_est"] == 5.0
        assert r["only_b_est"] == 10.0
        assert r["symdiff_est"] == 15.0

    def test_pair_stats_partition_invariant(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            _kmv_pair_stats,
        )

        agg, s = _kmv_pair_stats(self._sketches(spark), "grp", 256)
        r = agg.collect()[0]
        # every union-sample member is in at least one side
        assert r["__na"] + r["__nb"] - r["__nboth"] == r["n_union_sample"]
        s.unpersist()

    def test_single_group_empty(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            kmv_set_difference,
            kmv_sketch,
        )

        df = spark.createDataFrame(
            [("a", 1), ("a", 2)], "grp string, k long"
        )
        out = kmv_set_difference(
            kmv_sketch(df, "k", ["grp"], k=16), "grp", k=16
        )
        assert out.count() == 0


class TestHistogramQuantile:
    """histogram_quantile_estimate: the mergeable-state contract (bin
    counts sum-merge across shards into the whole's counts), the
    within-bound invariant, and the exact-collapse edge cases."""

    def test_within_bound_always_and_exact_small(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            histogram_quantile_estimate,
        )

        rows = [("g", float(v)) for v in range(1, 101)] + [
            ("h", 5.0) for _ in range(10)
        ]
        df = spark.createDataFrame(rows, "grp string, v double")
        out = histogram_quantile_estimate(
            df, "v", ["grp"], n_bins=16, percentiles=(50, 90)
        ).collect()
        assert len(out) == 4
        assert all(r["within_bound"] for r in out)
        # zero-width group: estimate == exact == the single value
        hrows = {r["percentile"]: r for r in out if r["grp"] == "h"}
        assert hrows[50]["q_est"] == 5.0 and hrows[50]["q_exact"] == 5.0
        assert hrows[50]["bin_width"] == 0.0

    def test_bin_counts_merge_by_sum(self, spark):
        """The sketch STATE (per-(group, bin) counts over a frozen
        grid) merges by sum: binning two shards against the SAME
        bounds and summing equals binning the union."""
        from big_data_project_datapipeline_spark.functions.quality import (
            psi_bin,
        )

        rows = [("g", float(v)) for v in range(200)]
        df = spark.createDataFrame(rows, "grp string, v double")
        rmin, rmax, nb = F.lit(0.0), F.lit(199.0), 8
        def counts(d):
            return {
                (r["grp"], r["bin"]): r["c"]
                for r in d.groupBy(
                    "grp", psi_bin(F.col("v"), rmin, rmax, nb).alias("bin")
                )
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            }
        whole = counts(df)
        s1 = counts(df.filter(F.col("v") < 77))
        s2 = counts(df.filter(F.col("v") >= 77))
        merged = {k: s1.get(k, 0) + s2.get(k, 0) for k in set(s1) | set(s2)}
        assert merged == whole

    def test_median_estimate_lands_in_right_bin(self, spark):
        from big_data_project_datapipeline_spark.functions.sketches import (
            histogram_quantile_estimate,
        )

        # uniform 0..99, 10 bins of width 9.9: the rank-50 element is
        # v=49; cum count first reaches 50 in bin 4 (v <= 49, i.e.
        # v*10/99 < 5), whose lower edge is 4 * 9.9 = 39.6
        df = spark.createDataFrame(
            [("g", float(v)) for v in range(100)], "grp string, v double"
        )
        r = histogram_quantile_estimate(
            df, "v", ["grp"], n_bins=10, percentiles=(50,)
        ).collect()[0]
        assert r["q_exact"] == 49.0
        assert abs(r["q_est"] - 39.6) < 1e-9
        assert r["abs_err"] <= r["bin_width"]
