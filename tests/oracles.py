"""Reference implementations that tests compare the package against.

- ``content_hash``: the golden-hash oracle — a deterministic,
  order-insensitive hash of a frame's content, pinned by the pipeline
  golden tests.
- ``add_winnow_fingerprints`` (with ``char_codes``,
  ``gram_hashes_from_codes`` and ``winnow_from_grams``): the
  higher-order-function expression form of winnowing, the oracle of
  ``functions/text.winnow_fingerprints_udf``.
- ``word_shingles``, ``shingle_hash_set`` and ``lsh_threshold``: the
  raw-text shingle forms and the LSH S-curve's steepest point, the
  oracles of the decontamination and ``solve_banding`` tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.dedup import (
    hash60,
    shingles_from_tokens,
)
from big_data_project_datapipeline_spark.functions.text import tokens


def content_hash(df: DataFrame) -> str:
    """K4 analog: deterministic, order-insensitive content hash (sum of
    per-row md5 prefixes over canonicalized values). Plays DVC's md5 role:
    pin it in a test, re-run the pipeline, compare."""
    hashed = df.select(
        F.conv(
            F.substring(F.md5(F.to_json(F.struct(*sorted(df.columns)))), 1, 15),
            16,
            10,
        )
        .cast("decimal(38,0)")
        .alias("h")
    )
    total = hashed.agg(F.sum("h").alias("s")).first()["s"]
    return format(int(total or 0) % (1 << 128), "x")


def char_codes(text: Column) -> Column:
    """Codepoint array of lowercased text (1 code per character)."""
    clean = F.lower(text)
    return F.transform(
        F.sequence(F.lit(1), F.length(clean)),
        lambda i: F.ascii(clean.substr(i, F.lit(1))).cast("long"),
    )


def gram_hashes_from_codes(codes: Column, k: int = 5, base: int = 256) -> Column:
    """Polynomial hash of every k-gram: Σ code[i+j]·base^(k−1−j). Injective
    for single-byte alphabets; fits in a long for k ≤ 7 at base 256."""
    weights = [base ** (k - 1 - j) for j in range(k)]
    n_grams = F.size(codes) - F.lit(k) + 1

    def gram(i: Column) -> Column:
        h = F.element_at(codes, i) * F.lit(weights[0])
        for j in range(1, k):
            h = h + F.element_at(codes, i + F.lit(j)) * F.lit(weights[j])
        return h

    return F.when(
        n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), gram)
    ).otherwise(F.array().cast("array<long>"))


def winnow_from_grams(grams: Column, window: int = 4) -> Column:
    """Distinct per-window minima of a gram-hash array (winnow select)."""
    n_windows = F.size(grams) - F.lit(window) + 1
    return (
        F.when(F.size(grams) < 1, F.array().cast("array<long>"))
        .when(n_windows < 1, F.array(F.array_min(grams)))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda j: F.array_min(F.slice(grams, j, window)),
                )
            )
        )
    )


def add_winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing with the char-code and gram arrays staged as real columns
    — each evaluated once per row (CollapseProject keeps non-cheap
    multi-referenced projections staged); staging columns are dropped."""
    staged = df.withColumn("__codes", char_codes(F.col(text_col))).withColumn(
        "__grams", gram_hashes_from_codes(F.col("__codes"), k)
    )
    return staged.withColumn(
        out_col, winnow_from_grams(F.col("__grams"), window)
    ).drop("__codes", "__grams")


def word_shingles(text: Column, k: int = 5) -> Column:
    """Convenience form over raw text — fine for small frames/tests; on
    hot paths stage ``tokens(text)`` into a real column first and use
    ``shingles_from_tokens`` (see its docstring for why)."""
    return shingles_from_tokens(tokens(text), k)


def shingle_hash_set(text: Column, k: int = 5) -> Column:
    """Convenience form over raw text — stage tokens on hot paths."""
    return F.array_distinct(F.transform(word_shingles(text, k), hash60))


def lsh_threshold(n_bands: int, band_size: int) -> float:
    """Approximate Jaccard similarity where the (b, r) LSH S-curve is
    steepest: (1/b)^(1/r). Pairs above it are likely candidates."""
    return (1.0 / n_bands) ** (1.0 / band_size)
