"""Multimodal plumbing tests: binary column schema, Arrow batch shape
and feature extraction. The decode stages over real media, and the
NotImplementedError gate for payloads no codec recognizes, are tested
in test_codecs.py."""

from __future__ import annotations

import hashlib

import pytest

from mapreduce_google_spark.io import load_table
from mapreduce_google_spark.operators.multimodal import (
    attach_binary,
    extract_features,
)


@pytest.fixture(scope="module")
def with_bin(spark, sf_dir):
    return attach_binary(load_table(spark, sf_dir, "documents")).cache()


def test_binary_schema_and_metadata(with_bin, spark, sf_dir):
    assert [f.name for f in with_bin.schema] == ["doc_id", "blob", "meta"]
    assert with_bin.schema["blob"].dataType.simpleString() == "binary"
    row = with_bin.orderBy("doc_id").first()
    payload = bytes(row.blob)
    assert row.meta.n_bytes == len(payload)
    assert row.meta.sha256 == hashlib.sha256(payload).hexdigest()
    # metadata matches the source text it was derived from
    src = load_table(spark, sf_dir, "documents").orderBy("doc_id").first()
    assert payload.decode("utf-8") == src.text


def test_feature_histogram(with_bin):
    rows = extract_features(with_bin.limit(20)).collect()
    for r in rows:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-5  # normalized histogram
