"""Multimodal binary-column plumbing tests: opaque media payloads
travel in a `binary` column beside typed metadata, and metadata-only
queries prune the payload column. The real decode kernels are
certified by the codec family in operators/multimodal_codecs.py; the
op251 tests here check its FLAC features against a direct decode and
that its payloads never cross an exchange."""

from __future__ import annotations

import struct

import numpy as np
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


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ------------------------------------------------------------------ op251


def test_flac_features_match_direct_decode(spark):
    """The op's feature rows must equal features computed by decoding
    each payload directly in-process (no Spark in the check path)."""
    from ocdb_server_spark.operators.multimodal_codecs import (
        _FLAC_RATE,
        op251_flac_decode_features,
    )
    from ocdb_server_spark.sources.flac import decode_flac, encode_flac

    rows = {r.asset_id: r for r in
            op251_flac_decode_features(spark, "unused").collect()}
    assert len(rows) == 120
    # i%4==3 assets (e.g. 119) are STEREO in the synthetic corpus
    for i in (0, 1, 5, 42, 119):
        n = 300 + (i % 4) * 150
        k = np.arange(n, dtype=np.int64)
        nch = 2 if i % 4 == 3 else 1
        chans = [((i * 17 + k * 13 + c * 29) % 1601 - 800)
                 for c in range(nch)]
        s = (np.stack(chans, axis=1) if nch == 2
             else chans[0]).astype(np.int16)
        rate, back = decode_flac(encode_flac(s, _FLAC_RATE, blocksize=256))
        assert np.array_equal(back, s)
        flat = s.astype(np.int64).reshape(-1)
        r = rows[i]
        assert r.channels == nch
        assert r.n_samples == n * nch
        assert r.duration_ms == n * 1000 // _FLAC_RATE
        assert r.sum_sq == int(np.sum(flat ** 2))
        assert r.peak == int(np.max(np.abs(flat)))
        assert (r.first_s, r.last_s) == (int(flat[0]), int(flat[-1]))


def test_flac_op_payloads_never_shuffle(spark):
    """Plan gate: two MapInArrow stages (generate, decode) with NO
    exchange between them — payload bytes live and die inside one
    task (the op195/op202 contract)."""
    from ocdb_server_spark.operators.multimodal_codecs import (
        op251_flac_decode_features,
    )

    plan = _plan(op251_flac_decode_features(spark, "unused"))
    import re

    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 2, plan
    # the only exchange is range -> repartition(8), BEFORE generation;
    # nothing between or after the two MapInArrow stages shuffles
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
    assert "RoundRobin" in plan  # and it is the repartition, not a hash
