"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Design: media travels as an opaque ``binary`` column plus typed metadata;
decode/feature-extraction runs as Arrow-batched ``mapInPandas`` (the only
place Python belongs — per-item opaque-bytes work that no built-in
expression can do). Everything around it — schema, partitioning, batch
shape, null handling — is real Spark plumbing and tested.

The actual codec step is STUBBED: this container has no image/audio
libraries, so ``decode_image`` raises ``NotImplementedError`` unless a
decoder (PIL) is importable, and ``extract_media_features`` falls back to a
deterministic header-based fake (size, md5, magic-sniffed kind,
fake dimensions parsed from the header bytes) so the pipeline shape is
exercised end-to-end.

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

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)

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
# straight to audio/wav misrouted WebP/AVI payloads (review fix).
_RIFF_KINDS = {
    b"WAVE": "audio/wav",
    b"WEBP": "image/webp",
    b"AVI ": "video/avi",
}


def decode_image(content: bytes):
    """Real decode — requires an image library. STUB: raises unless PIL is
    available (not in this container); callers use the deterministic
    feature fallback instead."""
    try:
        import io

        from PIL import Image  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "image decode requires PIL; container has no image libs — "
            "use extract_media_features (deterministic fallback) instead"
        ) from exc
    return Image.open(io.BytesIO(content))  # pragma: no cover


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
            # ONE digest per item (md5 + both fake dims derive from it)
            # — the previous per-column calls hashed multi-MB blobs
            # three times each (review fix; output bit-identical)
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


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    content_col: str = "content",
) -> DataFrame:
    """Resize plumbing: 1→1 Arrow-batched transform of a binary column.

    The pixel work is STUBBED (no image libs in this container): output
    bytes are a deterministic function of (input digest, target dims) with
    a recognizable header, so round-trip tests are stable. With PIL
    present, swap the stub body for ``decode_image(c).resize(...)`` —
    the Spark plumbing (schema, pruning, batch shape, nulls) is identical.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_content = []
            for c in pdf[content_col]:
                if c is None:
                    out_content.append(None)
                    continue
                d = hashlib.sha1(bytes(c)).digest()
                out_content.append(
                    b"FAKE-RESIZE:%dx%d:" % (width, height) + d
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": out_content,
                    "width": [
                        width if c is not None else None for c in pdf[content_col]
                    ],
                    "height": [
                        height if c is not None else None for c in pdf[content_col]
                    ],
                }
            )

    return df.select("media_id", content_col).mapInPandas(_resize, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_offset_s", T.DoubleType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_video_frames(
    df: DataFrame,
    n_frames: int = 4,
    fps: float = 1.0,
    content_col: str = "content",
) -> DataFrame:
    """Frame-sampling plumbing: 1→N Arrow-batched fan-out — each video row
    yields ``n_frames`` frame rows (uniform stride at ``fps``). The decode
    is STUBBED (deterministic digest-derived frame bytes); the fan-out,
    schema, and constant-memory batch shape are the real thing. At scale
    the output is ``n_frames×`` the input row count with no shuffle —
    repartition AFTER sampling if downstream needs balance.
    """
    if fps <= 0:
        raise ValueError(f"fps must be > 0, got {fps}")

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, frames = [], [], [], []
            for mid, c in zip(pdf["media_id"], pdf[content_col]):
                if c is None:
                    continue  # undecodable media yields no frames
                d = hashlib.sha1(bytes(c)).digest()
                for i in range(n_frames):
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(i / fps)
                    frames.append(b"FAKE-FRAME:%d:" % i + d)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_offset_s": pd.Series(offs, dtype="float64"),
                    "frame": frames,
                }
            )

    return df.select("media_id", content_col).mapInPandas(_sample, FRAME_SCHEMA)


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: treat the documents table's text as opaque bytes so the
    multimodal path can be exercised against driver testdata (no real
    media files ship with the container)."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("text/plain").alias("mime"),
    )
