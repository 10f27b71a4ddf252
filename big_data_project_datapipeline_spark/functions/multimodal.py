"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Design: media travels as an opaque ``binary`` column plus typed metadata;
decode/feature-extraction runs as Arrow-batched ``mapInPandas`` (the only
place Python belongs — per-item opaque-bytes work that no built-in
expression can do). Everything around it — schema, partitioning, batch
shape, null handling — is real Spark plumbing and tested.

There is no codec step: ``extract_media_features`` computes a
deterministic header-based stand-in (size, md5, magic-sniffed kind, fake
dimensions derived from the content digest), so the pipeline shape is
exercised end-to-end without an image library. A real decoder replaces
the fake dimensions inside the same batch function.

Scale notes: mapInPandas streams Arrow batches — peak memory is
O(batch) not O(partition); keep ``spark.sql.execution.arrow.
maxRecordsPerBatch`` small for large media (default 10k rows is far too
big for video). Feature extraction is embarrassingly parallel: no shuffle
at any point, repartition only to balance file-size skew.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("md5", T.StringType(), True),
        T.StructField("sniffed_kind", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"\x1aE\xdf\xa3": "video/webm",
}

# RIFF is a CONTAINER: the format tag at offset 8 decides the media kind
# (WAVE audio, WEBP image, 'AVI ' video) — mapping the 4-byte prefix
# straight to audio/wav would misroute WebP/AVI payloads.
_RIFF_KINDS = {
    b"WAVE": "audio/wav",
    b"WEBP": "image/webp",
    b"AVI ": "video/avi",
}


def _sniff(content: bytes | None) -> str | None:
    if content is None:
        return None
    if content[:4] == b"RIFF":
        return _RIFF_KINDS.get(content[8:12], "application/riff")
    for magic, kind in _MAGIC.items():
        if content[: len(magic)] == magic:
            return kind
    return "application/octet-stream"


def extract_media_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched per-item feature extraction over a binary column.

    The pandas function receives an iterator of column-pruned batches and
    yields feature frames — constant memory, no shuffle, schema declared
    up front (MEDIA_FEATURES_SCHEMA).
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = pdf[content_col]
            # ONE digest per item (md5 + both fake dims derive from it),
            # not one per output column: multi-MB blobs hash once
            digests = [
                hashlib.md5(c).digest() if c is not None else None
                for c in contents
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [
                        len(c) if c is not None else None for c in contents
                    ],
                    "md5": [
                        d.hex() if d is not None else None for d in digests
                    ],
                    "sniffed_kind": [_sniff(c) for c in contents],
                    "width": [
                        16 * (1 + d[0] % 64) if d is not None else None
                        for d in digests
                    ],
                    "height": [
                        16 * (1 + d[1] % 64) if d is not None else None
                        for d in digests
                    ],
                }
            )

    return df.select("media_id", content_col).mapInPandas(
        _extract, MEDIA_FEATURES_SCHEMA
    )


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: treat the documents table's text as opaque bytes so the
    multimodal path can be exercised against driver testdata (no real
    media files ship with the container)."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("text/plain").alias("mime"),
    )
