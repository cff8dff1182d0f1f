"""Multimodal binary columns: schema, partitioning, and Pandas-UDF
plumbing for image/audio/video payloads (north-star requirement).

Design: media are opaque `binary` columns traveling beside typed
metadata — the same pattern op82 proves for text+vector. Decode /
feature-extract / resize / frame-sample run as Arrow-batched
`mapInPandas` stages so payload bytes never round-trip per-row.

COMPRESSED codec libraries (JPEG/MP3/H.264) are NOT in this
container, so this module's decode kernel is STUBBED:
`decode_image_stub` raises NotImplementedError unless `fake=True`,
in which case it produces a deterministic fake — making the
Spark-side plumbing (schema, batch iteration, partition sizing) real
and testable (tests/test_multimodal.py). The UNCOMPRESSED formats
are decoded for real: sources/codecs.py implements PCM WAV and
24-bit BMP in pure struct+numpy (stdlib-`wave` interop proven), and
op195–op197 hash-certify those decoders against closed-form
oracles.

Scale notes: media tables partition by (modality, date); payloads cap
at `spark.sql.files.maxPartitionBytes` granularity so one task never
holds more than a few hundred MB of bytes; metadata-only queries prune
the binary column entirely (columnar Parquet never reads it).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
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

def decode_image_stub(payload: bytes, fake: bool = False) -> tuple[int, int]:
    """Decode kernel stub. Real implementation would call PIL/libvips —
    not present in this container."""
    if not fake:
        raise NotImplementedError(
            "image codecs not available in this environment; pass fake=True "
            "to decode the synthetic header-only format"
        )
    w, h = struct.unpack_from("<ii", payload)
    return w, h


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_crc", LongType(), True),
    ]
)


def sample_frames(df: DataFrame, every: int = 4) -> DataFrame:
    """mapInPandas frame-sampling stage: every k-th frame of each
    "video" payload, emitted as (asset_id, frame_idx, frame_crc).

    The synthetic payload layout is an 8-byte header (n_frames:int32,
    frame_size:int32) followed by n_frames × frame_size frame bytes; a
    real implementation would seek with pyav/ffmpeg — the per-frame
    kernel is the only stub, the Arrow batch loop, the explode shape
    (one output row per sampled frame) and the zero-shuffle contract
    are the production plumbing. Payload bytes never leave the task
    that read them; only fixed-width (id, idx, crc) rows continue
    downstream."""
    import zlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, crcs = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                n_frames, frame_size = struct.unpack_from("<ii", payload)
                for k in range(0, n_frames, every):
                    off = 8 + k * frame_size
                    frame = payload[off : off + frame_size]
                    ids.append(aid)
                    idxs.append(k)
                    crcs.append(zlib.crc32(frame))
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "frame_crc": crcs}
            ).astype({"asset_id": "int64", "frame_idx": "int32", "frame_crc": "int64"})

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)
