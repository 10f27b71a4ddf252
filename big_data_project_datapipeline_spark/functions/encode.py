"""Categorical / text feature encoding for ML pipelines.

- **Leave-one-out target encoding** (`target_encode_loo`): the standard
  high-cardinality categorical encoder — each row's category is encoded
  as the mean target of the OTHER rows in its category,
  ``(sum − y) / (n − 1)``, which avoids the self-leakage of plain mean
  encoding. Category moments accumulate in decimal (order-independent
  across partitions) and join back; with a high-cardinality category the
  join shuffles on the uniform category key, with a small one AQE
  downgrades it to broadcast.
- **Feature hashing** (`hashed_token_counts`): the hashing trick —
  tokens map to a fixed bucket space via the engine-portable md5→bigint
  device (same literal recipe as functions/dedup's token hashing), so
  the feature space is bounded regardless of vocabulary size and needs
  no vocabulary build/broadcast at all. One explode + one
  (doc, bucket) aggregate, map-side combined.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.text import tokens


def target_encode_loo(
    df: DataFrame,
    category_cols: Sequence[str],
    target_col: str,
    out_col: str = "te_loo",
) -> DataFrame:
    """Append the leave-one-out target-mean encoding of the category:
    ``(category_sum − target) / (category_n − 1)``; rows in a singleton
    category (no "others" to average) encode as null, as do null
    targets. round(6) output on exact decimal sums.
    """
    dec = F.col(target_col).cast("decimal(18,4)")
    # NaN targets are excluded like NULLs: the decimal cast nulls NaN
    # inside the sum while count() would still count the row, biasing
    # every LOO encode in the category
    valid = F.col(target_col).isNotNull() & ~F.isnan(
        F.col(target_col).cast("double")
    )
    cat = (
        df.filter(valid)
        .groupBy(*category_cols)
        .agg(
            F.count(F.lit(1)).alias("__cat_n"),
            F.sum(dec).cast("double").alias("__cat_s"),
        )
    )
    joined = df.join(cat, list(category_cols), "left")
    loo = (F.col("__cat_s") - F.col(target_col)) / (F.col("__cat_n") - 1)
    return joined.withColumn(
        out_col,
        F.when(valid & (F.col("__cat_n") > 1), F.round(loo, 6)),
    ).drop("__cat_n", "__cat_s")


def hashed_token_counts(
    df: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick bag-of-words: one row per (doc, bucket) with the
    token-occurrence count, bucket = md5-derived bigint % n_buckets.
    Token multiplicity counts (this is a count vector, not a set).
    """
    from big_data_project_datapipeline_spark.functions.corpus import (
        _md5_bucket,
    )

    tok = F.explode(tokens(F.col(text_col))).alias("tok")
    # shared engine-portable bucket recipe (corpus._md5_bucket) — three
    # inline copies of the md5 device had already drifted risk (review);
    # cast back to long to keep this function's published schema
    bucket = _md5_bucket(F.col("tok"), n_buckets).cast("long").alias("bucket")
    return (
        df.select(doc_id_col, tok)
        .select(doc_id_col, bucket)
        .groupBy(doc_id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
