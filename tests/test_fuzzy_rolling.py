"""Hand-computed fixtures for blocked fuzzy matching and rolling stats.

Pins the semantics an oracle aggregate could get "right by luck":
blocking (a cross-block near-match must NOT appear), the length-band
prune admissibility, orientation dedup (left_id < right_id), trailing
frame boundaries at the head of a series, and ddof=0 std with the
zero-clamped variance (constant frame → exactly 0.0, never NaN).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.operators.fuzzy import (
    blocked_levenshtein_pairs,
)
from big_data_project_datapipeline_spark.operators.rolling import (
    rolling_stats,
)


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_fuzzy_blocks_and_threshold(spark):
    df = spark.createDataFrame(
        [
            (1, "A", "kitten"),
            (2, "A", "sitten"),   # d=1 from kitten
            (3, "A", "sitting"),  # d=3 from kitten, d=2 from sitten
            (4, "B", "kitten"),   # exact match but WRONG block
            (5, "A", "zebra"),    # far from everything
        ],
        ["id", "blk", "name"],
    )
    out = blocked_levenshtein_pairs(df, ["blk"], "name", "id", max_dist=2)
    got = {
        (r.left_id, r.right_id, r.distance)
        for r in out.collect()
    }
    # (1,3) is d=3 → excluded; (1,4) crosses blocks → excluded even at d=0.
    assert got == {(1, 2, 1), (2, 3, 2)}


def test_fuzzy_orientation_and_identicals(spark):
    df = spark.createDataFrame(
        [(1, "A", "same"), (2, "A", "same")], ["id", "blk", "name"]
    )
    rows = blocked_levenshtein_pairs(
        df, ["blk"], "name", "id", max_dist=1
    ).collect()
    # One orientation only; identical strings match at distance 0.
    assert [(r.left_id, r.right_id, r.distance) for r in rows] == [(1, 2, 0)]


def test_fuzzy_length_band_is_admissible(spark):
    # Length gap 3 > max_dist 2: the band prunes it, and the DP would have
    # rejected it anyway (distance >= length gap) — result is identical.
    df = spark.createDataFrame(
        [(1, "A", "abc"), (2, "A", "abcdef")], ["id", "blk", "name"]
    )
    out = blocked_levenshtein_pairs(df, ["blk"], "name", "id", max_dist=2)
    assert out.count() == 0


def test_fuzzy_charset_prune_is_admissible(spark):
    """The 64-bit charset-bitmap prune must be a pure speedup: pairs
    found == the naive band+DP result on a corpus crafted to stress it
    (substitutions that retire/introduce characters, repeated chars whose
    set is unchanged, transposition-like double substitutions, and
    colliding bits via pmod-64)."""
    from fuzzy_oracle import blocked_pairs_naive

    rows = [
        (1, "A", "banana"),
        (2, "A", "bananas"),    # +1 char introduces 's'
        (3, "A", "banann"),     # substitution retires 'a'? no — still has a
        (4, "A", "bonono"),     # 2 subs retire 'a', introduce 'o'
        (5, "A", "nanaba"),     # anagram: same charset, d>2 from banana
        (6, "A", "banama"),     # 1 sub introduces 'm'
        (7, "A", "aaaaaa"),     # degenerate repeats
        (8, "A", "aaaaab"),
        (9, "A", "xyzzyx"),     # disjoint charset
        (10, "A", "ba" + chr(ord("a") + 64)),  # pmod-64 collision with 'a'
    ]
    df = spark.createDataFrame(rows, ["id", "blk", "name"])
    for d in (1, 2):
        fast = {
            (r.left_id, r.right_id, r.distance)
            for r in blocked_levenshtein_pairs(
                df, ["blk"], "name", "id", max_dist=d
            ).collect()
        }
        naive = {
            (r.left_id, r.right_id, r.distance)
            for r in blocked_pairs_naive(
                df, ["blk"], "name", "id", max_dist=d
            ).collect()
        }
        assert fast == naive, (d, fast ^ naive)


def test_rolling_trailing_frame(spark):
    rows = [
        ("u1", _ts(f"2024-01-01T0{i}:00:00"), i, float(v))
        for i, v in enumerate([2, 4, 6, 8, 10])
    ]
    df = spark.createDataFrame(rows, ["uid", "ts", "eid", "v"])
    out = (
        rolling_stats(df, "uid", ["ts", "eid"], F.col("v"), n=3)
        .orderBy("eid")
        .collect()
    )
    # Head of series: frame grows 1, 2, 3 then slides.
    assert [r.roll_n for r in out] == [1, 2, 3, 3, 3]
    assert [r.roll_mean for r in out] == [2.0, 3.0, 4.0, 6.0, 8.0]
    assert [r.roll_min for r in out] == [2.0, 2.0, 2.0, 4.0, 6.0]
    assert [r.roll_max for r in out] == [2.0, 4.0, 6.0, 8.0, 10.0]
    # ddof=0 over {4,6,8}: var = ((16+36+64)/3 - 36) = 2.666..; std ≈ 1.632993
    assert out[3].roll_std == 1.632993


def test_rolling_constant_frame_std_zero_not_nan(spark):
    rows = [("u1", _ts(f"2024-01-01T0{i}:00:00"), i, 7.7) for i in range(4)]
    df = spark.createDataFrame(rows, ["uid", "ts", "eid", "v"])
    out = rolling_stats(df, "uid", ["ts", "eid"], F.col("v"), n=3).collect()
    # ss/n - m^2 can land at -1e-18 in IEEE; the clamp must make this 0.0.
    assert all(r.roll_std == 0.0 for r in out)


def test_rolling_partitions_do_not_leak(spark):
    rows = [
        ("u1", _ts("2024-01-01T00:00:00"), 1, 100.0),
        ("u2", _ts("2024-01-01T01:00:00"), 2, 1.0),
        ("u2", _ts("2024-01-01T02:00:00"), 3, 3.0),
    ]
    df = spark.createDataFrame(rows, ["uid", "ts", "eid", "v"])
    out = {
        r.eid: r
        for r in rolling_stats(
            df, "uid", ["ts", "eid"], F.col("v"), n=5
        ).collect()
    }
    assert out[1].roll_n == 1 and out[1].roll_mean == 100.0
    assert out[3].roll_n == 2 and out[3].roll_mean == 2.0


def test_gap_fill_multi_unit_step_keeps_off_grid_observations(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from big_data_project_datapipeline_spark.operators.temporal_fill import (
        gap_fill_locf,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        ("s", t0, 1.0),
        # off-grid observation at 10:07 — with date_trunc('minute')
        # bucketing this row fell off the 30-minute grid and its value
        # was silently lost (review regression)
        ("s", t0 + dt.timedelta(minutes=7), 5.0),
        ("s", t0 + dt.timedelta(minutes=65), 9.0),
    ]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    out = {
        r.slot: (r.value, r.filled)
        for r in gap_fill_locf(df, "series", step="30 minutes").collect()
    }
    # grid anchored at 10:00 (minute-truncated min): 10:00, 10:30, 11:00
    assert len(out) == 3
    # 10:07 lands in the 10:00 slot: mean(1.0, 5.0) = 3.0, observed
    assert out[t0] == (3.0, 0)
    assert out[t0 + dt.timedelta(minutes=30)] == (3.0, 1)  # LOCF carry
    assert out[t0 + dt.timedelta(minutes=60)] == (9.0, 0)
