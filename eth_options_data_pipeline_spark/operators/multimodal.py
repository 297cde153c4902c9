"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
`modality` discriminator and typed metadata.
Decode / feature-extraction runs as Arrow-batched Pandas iterators via
``mapInPandas`` — the Spark-side plumbing (schema, batching, partition
preservation) is real and tested; the actual image/audio decoding is
a deterministic stand-in (byte length + md5) because codec libraries
are not available in this environment.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

ASSET_FEATURES = StructType([
    StructField("asset_id", LongType()),
    StructField("modality", StringType()),
    StructField("n_bytes", LongType()),
    StructField("checksum", StringType()),
])


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary content.

    Deterministic fake 'decode': byte length + md5 checksum — enough to
    exercise the real distributed plumbing (binary columns through
    Arrow, per-partition batch iteration, fixed output schema) and to
    be oracle-checked. A real decoder plugs into the same iterator.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            content = pdf["content"]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].astype("int64"),
                "modality": pdf["modality"],
                "n_bytes": content.map(len).astype("int64"),
                "checksum": content.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
            })

    return assets.mapInPandas(batches, schema=ASSET_FEATURES)


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents table as a synthetic asset corpus
    (utf-8 bytes as payload, modality cycled by id) so the multimodal
    path is exercisable against driver testdata."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


RESIZED_ASSET = StructType([
    StructField("asset_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("thumbnail", BinaryType()),
])

FRAME_SAMPLE = StructType([
    StructField("asset_id", LongType()),
    StructField("frame_idx", LongType()),
    StructField("frame_offset", LongType()),
    StructField("frame_checksum", StringType()),
])


def resize_assets(assets: DataFrame, max_dim: int = 64) -> DataFrame:
    """Image-resize plumbing: 1 row in -> 1 row out per batch.

    The deterministic fake 'decode' derives dimensions from the first
    two payload bytes and thumbnails as a byte-budgeted prefix —
    enough to pin the real contract (binary in AND binary out through
    Arrow, fixed output schema, row-count preservation). A real
    resizer (PIL `Image.thumbnail`) replaces only the inner loop body;
    everything around it — batching, schema, partitioning — is what
    this function actually tests.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        budget = max_dim * max_dim // 8
        for pdf in it:
            content = pdf["content"]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].astype("int64"),
                "width": content.map(
                    lambda b: min(16 + bytes(b)[0] if len(b) else 16, max_dim)
                ).astype("int64"),
                "height": content.map(
                    lambda b: min(16 + bytes(b)[1] if len(b) > 1 else 16, max_dim)
                ).astype("int64"),
                "thumbnail": content.map(lambda b: bytes(b)[:budget]),
            })

    return assets.mapInPandas(batches, schema=RESIZED_ASSET)


def sample_frames(assets: DataFrame, stride: int = 256, max_frames: int = 8) -> DataFrame:
    """Video frame-sampling plumbing: 1 row in -> N rows out.

    This is the OTHER mapInPandas contract — fan-out, where output
    batches don't align 1:1 with input rows. Every `stride` bytes of
    payload is treated as one 'frame' (up to `max_frames`), each
    emitted with its offset and an md5 checksum of its slice. A real
    sampler (ffmpeg keyframe extraction) replaces the slicing; the
    fan-out batch shape, per-frame schema, and bounded-output contract
    are the engine-side semantics under test. Only `video` assets are
    sampled; the filter is pushed BEFORE the Python stage so other
    modalities never cross the Arrow boundary.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            out: dict[str, list] = {"asset_id": [], "frame_idx": [],
                                    "frame_offset": [], "frame_checksum": []}
            for aid, raw in zip(pdf["asset_id"], pdf["content"]):
                b = bytes(raw)
                n = min(max(len(b) + stride - 1, 1) // stride, max_frames)
                for i in range(n):
                    sl = b[i * stride:(i + 1) * stride]
                    out["asset_id"].append(int(aid))
                    out["frame_idx"].append(i)
                    out["frame_offset"].append(i * stride)
                    out["frame_checksum"].append(hashlib.md5(sl).hexdigest())
            yield pd.DataFrame(out)

    return (
        assets.where(F.col("modality") == "video")
        .mapInPandas(batches, schema=FRAME_SAMPLE)
    )
