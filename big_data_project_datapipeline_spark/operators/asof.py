"""As-of join (nearest / backward / forward, with tolerance).

Replicates ``pd.merge_asof(direction="nearest", tolerance=...)`` as used by
the reference to stamp half-hourly prices onto an hourly grid (reference
raw_data.py:219-229) — including pandas' tie-break: on an exact distance tie,
the **earlier** right row wins.

Spark has no native batch as-of join, so this is the classic *bucketed
range join*:

1. bucket both sides by ``floor(epoch(ts) / tolerance)``;
2. explode the right side into buckets ``b-1, b, b+1`` (any left row's
   nearest-within-tolerance neighbour must land in one of those three);
3. equi-join on the bucket (shuffle- or broadcast-hash — Catalyst picks;
   AQE handles skewed buckets) with the ``|Δt| <= tolerance`` predicate;
4. rank candidates per left row by ``(|Δt| asc, right_ts asc)`` and keep
   rank 1.

At 100 TB this is a single shuffle on a well-distributed integer key, versus
the naive theta-join (cartesian per day) that a direct
``ON abs(l.ts-r.ts)<=tol`` would plan. The right side is exploded 3× but is
typically the small side (a rates table); broadcast applies when it fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LEFT_ID = "__asof_left_id"
_BUCKET = "__asof_bucket"
_RIGHT_TS = "__asof_right_ts"
_DIST = "__asof_dist"
_RANK = "__asof_rank"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "datetime",
    right_on: str | None = None,
    tolerance_seconds: int = 1800,
    direction: str = "nearest",
) -> DataFrame:
    """Left as-of join: every left row, plus the matching right row's payload
    columns (null when no right row lies within tolerance).

    direction: 'nearest' (tie → earlier right row, pandas semantics),
    'backward' (right_ts <= left_ts), or 'forward' (right_ts >= left_ts).
    Tolerance is inclusive, matching ``pd.merge_asof``.
    """
    if direction not in ("nearest", "backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    if tolerance_seconds <= 0:
        # floor(ts/0.0) would null every bucket and silently match
        # NOTHING; exact-timestamp matching is a plain
        # equi-join, not an as-of join
        raise ValueError(
            f"tolerance_seconds must be > 0, got {tolerance_seconds}"
        )
    right_on = right_on or on
    payload = [c for c in right.columns if c != right_on]
    # A right payload column shadowing a left column would emit two
    # identically-named output columns — ambiguous downstream. Fail loudly
    # (pd.merge_asof suffixes instead; callers here rename explicitly).
    collisions = sorted(set(payload) & set(left.columns))
    if collisions:
        raise ValueError(
            f"asof_join: right payload column(s) {collisions} collide with "
            "left columns; rename them before joining"
        )

    tol = float(tolerance_seconds)
    # Fractional-second epochs (cast ts→double keeps microseconds); a plain
    # unix_timestamp would truncate and shift tolerance/tie decisions.
    #
    # monotonically_increasing_id is partition-order-dependent, so the
    # tagged frame must have exactly ONE consumer in the plan (it does:
    # the candidate join below) — a second subtree reading `l` would
    # re-evaluate the ids under its own partitioning and the window's
    # per-left-row groups would mismatch (never join values derived
    # from partition identity across two separate evaluations).
    # Spark's indeterminate-stage rollback covers task retries within
    # the single evaluation.
    l = left.withColumn(_LEFT_ID, F.monotonically_increasing_id()).withColumn(
        _BUCKET, F.floor(F.col(on).cast("double") / tol)
    )
    # Right rows fan out to the 3 adjacent buckets so every within-tolerance
    # pair co-locates on an equi-key.
    r = (
        right.withColumnRenamed(right_on, _RIGHT_TS)
        .withColumn(
            _BUCKET,
            F.explode(
                F.array(
                    F.floor(F.col(_RIGHT_TS).cast("double") / tol) - 1,
                    F.floor(F.col(_RIGHT_TS).cast("double") / tol),
                    F.floor(F.col(_RIGHT_TS).cast("double") / tol) + 1,
                )
            ),
        )
    )

    delta = F.col(_RIGHT_TS).cast("double") - F.col(on).cast("double")
    if direction == "nearest":
        within = F.abs(delta) <= tol
    elif direction == "backward":
        within = (delta <= 0) & (delta >= -tol)
    else:  # forward
        within = (delta >= 0) & (delta <= tol)

    cand = l.join(r, on=[_BUCKET], how="left").withColumn(
        _DIST, F.when(within, F.abs(delta))
    )
    # Non-qualifying right rows keep rank via null-last distance so unmatched
    # left rows still emit exactly one (null-payload) row.
    w = Window.partitionBy(_LEFT_ID).orderBy(
        F.col(_DIST).asc_nulls_last(), F.col(_RIGHT_TS).asc_nulls_last()
    )
    ranked = cand.withColumn(_RANK, F.row_number().over(w)).filter(F.col(_RANK) == 1)

    out_payload = [
        F.when(F.col(_DIST).isNotNull(), F.col(c)).alias(c) for c in payload
    ]
    return ranked.select(*[F.col(c) for c in left.columns], *out_payload)
