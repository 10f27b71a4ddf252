"""Multimodal binary-column plumbing: mapInPandas batch shape, null
handling, magic sniffing, deterministic stand-in features."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import types as T

from big_data_project_datapipeline_spark.functions.multimodal import (
    documents_as_media,
    extract_media_features,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\nrest-of-png", "image/png"),
        (2, b"\xff\xd8\xff\xe0jpeg-bytes", "image/jpeg"),
        (3, b"RIFF....WAVE", "audio/wav"),
        (4, b"plain text bytes", "text/plain"),
        (5, None, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features(media):
    out = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert out[1]["sniffed_kind"] == "image/png"
    assert out[2]["sniffed_kind"] == "image/jpeg"
    assert out[3]["sniffed_kind"] == "audio/wav"
    assert out[4]["sniffed_kind"] == "application/octet-stream"
    assert out[5]["sniffed_kind"] is None and out[5]["n_bytes"] is None

    content = b"\x89PNG\r\n\x1a\nrest-of-png"
    assert out[1]["n_bytes"] == len(content)
    assert out[1]["md5"] == hashlib.md5(content).hexdigest()
    # deterministic fake dims: multiples of 16 in [16, 1024]
    assert out[1]["width"] % 16 == 0 and 16 <= out[1]["width"] <= 1024


def test_features_deterministic(media):
    a = sorted(map(tuple, extract_media_features(media).collect()))
    b = sorted(map(tuple, extract_media_features(media).collect()))
    assert a == b


def test_documents_adapter(spark):
    docs = spark.createDataFrame([(7, "hello world")], "doc_id long, text string")
    out = extract_media_features(documents_as_media(docs)).collect()[0]
    assert out["media_id"] == 7
    assert out["n_bytes"] == len(b"hello world")
    assert out["md5"] == hashlib.md5(b"hello world").hexdigest()
