"""Equivalence oracle for ``operators/fuzzy.blocked_levenshtein_pairs``:
the block² join with the length band and the banded DP, without the
charset-bitmap prune. A matcher whose prunes are admissible returns
exactly this oracle's pairs."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_pairs_naive(
    df: DataFrame,
    block_cols: Sequence[str],
    text_col: str,
    id_col: str,
    max_dist: int,
) -> DataFrame:
    keep = [*block_cols, id_col, text_col]
    left = df.select(*[F.col(c).alias(f"l_{c}") for c in keep])
    right = df.select(*[F.col(c).alias(f"r_{c}") for c in keep])
    cond = [F.col(f"l_{c}") == F.col(f"r_{c}") for c in block_cols] + [
        F.col(f"l_{id_col}") < F.col(f"r_{id_col}"),
        F.abs(
            F.length(F.col(f"l_{text_col}"))
            - F.length(F.col(f"r_{text_col}"))
        )
        <= max_dist,
    ]
    # thresholded banded DP: -1 past the budget, exact distance within it
    distance = F.levenshtein(
        F.col(f"l_{text_col}"), F.col(f"r_{text_col}"), max_dist
    )
    return (
        left.join(right, cond)
        .withColumn("distance", distance)
        .filter(F.col("distance") >= 0)
        .select(
            F.col(f"l_{id_col}").alias("left_id"),
            F.col(f"r_{id_col}").alias("right_id"),
            F.col(f"l_{text_col}").alias("left_text"),
            F.col(f"r_{text_col}").alias("right_text"),
            F.col("distance").cast("int").alias("distance"),
        )
    )
