"""Multimodal binary-column plumbing tests: opaque media payloads
travel in a `binary` column beside typed metadata, and metadata-only
queries prune the payload column. The real decode kernels are
certified by the codec family in operators/multimodal_codecs.py."""

from __future__ import annotations

import struct

import pytest

from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),  # opaque bytes
        StructField("n_bytes", LongType(), True),
    ]
)


def make_synthetic_assets(spark, n: int = 64):
    """Deterministic fake media table: payload = 8-byte header
    (width:int32, height:int32) + filler — stands in for real encoded
    bytes so the pipeline is end-to-end testable without codecs."""
    rows = []
    for i in range(n):
        w, h = 64 + (i % 8) * 16, 48 + (i % 6) * 16
        payload = struct.pack("<ii", w, h) + bytes((i % 251,)) * 128
        rows.append((i, "image", "image/fake", payload, len(payload)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def assets(spark):
    return make_synthetic_assets(spark, n=64).cache()


def test_media_schema(assets):
    assert assets.schema == MEDIA_SCHEMA
    assert assets.count() == 64


def test_metadata_query_prunes_payload(assets, tmp_path):
    """A metadata-only aggregation over the parquet-backed media table
    must not read the binary payload column (columnar pruning — the
    reason opaque bytes can sit beside metadata at 100 TB)."""
    path = str(tmp_path / "media")
    assets.write.parquet(path)
    spark = assets.sparkSession
    df = spark.read.parquet(path).groupBy("modality").count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_part = plan[plan.index("ReadSchema") :][:300] if "ReadSchema" in plan else plan
    assert "payload" not in scan_part
    assert df.collect()[0]["count"] == 64
