"""Skew-mitigation: salted join for heavy-hitter keys.

AQE's skew-join split (on in `session.get_spark`) handles most skew by
splitting oversized partitions at runtime — but it only applies to
sort-merge joins and after-the-fact. For *known* heavy-hitter keys (a null
surrogate, a default user, a dominant tenant) explicit salting is the
deterministic fix:

- the skewed (large) side gets a random salt in [0, salt); its hot key's
  rows spread across ``salt`` partitions instead of one;
- the small side is replicated ``salt``× (explode over the salt range) so
  every salted partition finds its match;
- join key becomes (key, salt) — same result set, no hot partition.

Replication multiplies the small side, so salt only the keys that need it:
``salted_join`` takes an optional ``hot_keys`` list and salts ONLY those
rows (union of salted-hot + unsalted-cold paths), keeping replication cost
proportional to the skew, not the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 16,
    hot_keys: Sequence | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to heavy-hitter keys in ``large``.

    With ``hot_keys`` given, only those keys pay the replication cost; all
    other rows join on a single salt bucket. Without it, every key is
    salted (full ``salt``× replication of ``small``).

    Only ``inner``/``left``/``left_semi`` are legal: any join that can
    emit UNMATCHED small-side rows (right/full/right_semi/...) would
    emit every one of its ``salt`` replicas after the salt column drops
    — an unsalted join is the correct tool there.
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi", "leftsemi"}
    if how.lower().replace("_", "") not in {a.replace("_", "") for a in allowed}:
        raise ValueError(
            f"salted_join supports {sorted(allowed)} only: how={how!r} "
            f"would duplicate unmatched replicated small-side rows"
        )
    if hot_keys is not None:
        hot = F.col(on).isin(list(hot_keys))
        large_salt = F.when(
            hot, (F.rand(seed=42) * salt).cast("int")
        ).otherwise(F.lit(0))
        small_range = F.when(hot, F.sequence(F.lit(0), F.lit(salt - 1))).otherwise(
            F.array(F.lit(0))
        )
    else:
        large_salt = (F.rand(seed=42) * salt).cast("int")
        small_range = F.sequence(F.lit(0), F.lit(salt - 1))

    l_salted = large.withColumn(_SALT, large_salt)
    s_salted = small.withColumn(_SALT, F.explode(small_range))
    out = l_salted.join(s_salted, on=[on, _SALT], how=how)
    return out.drop(_SALT)


def key_skew_profile(
    df: DataFrame,
    keys: list[str],
    top_n: int = 10,
) -> DataFrame:
    """Key-distribution diagnostics — the profiling step that decides
    WHETHER a join needs salting/AQE skew handling: top-N heaviest keys
    with their share, plus distribution-level stats (key count, max/mean
    ratio, Shannon entropy) repeated on every row for a one-frame ops
    report.

    Scale: one groupBy(keys) → an O(distinct-keys) frame; the entropy
    sum accumulates c·ln c in decimal (the q62 order-independence
    device). The top-N selection is ``orderBy(...).limit(top_n)`` —
    Spark plans that as TakeOrderedAndProject (per-partition top-N +
    driver-side merge of top_n·n_partitions rows), so the full
    O(distinct-keys) counts frame is NEVER sorted on one partition; the
    rank window then runs on the ≤top_n surviving rows only.
    """
    cnt = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    lp = (F.col("cnt") * F.log(F.col("cnt"))).cast("decimal(28,12)")
    totals = cnt.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.sum(lp).cast("double").alias("__slogc"),
    )
    order = [F.col("cnt").desc(), *[F.col(k).asc() for k in keys]]
    top = cnt.orderBy(*order).limit(top_n)
    ranked = (
        top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .crossJoin(F.broadcast(totals))
    )
    entropy = F.log(F.col("total")) - F.col("__slogc") / F.col("total")
    return ranked.select(
        "rank",
        *keys,
        "cnt",
        F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        "n_keys",
        F.round(
            F.col("max_cnt") / (F.col("total") / F.col("n_keys")), 6
        ).alias("max_over_mean"),
        F.round(entropy, 6).alias("entropy"),
    )
