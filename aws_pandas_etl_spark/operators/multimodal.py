"""Multimodal column plumbing (SURVEY §2b X5).

Images/audio/video ride as opaque ``binary`` columns with typed
metadata.  The Spark-side plumbing — schema, Arrow batching,
``mapInPandas`` signature, partition sizing — is real and tested; the
actual media decode is STUBBED (no PIL/ffmpeg in this container)
behind ``decode_image`` with a deterministic fake so the distributed
path is exercisable end-to-end.

At 100 TB: binary payloads dominate partition size, so reads should
set ``spark.sql.files.maxPartitionBytes`` low enough that a partition
of blobs fits executor memory, and the decode stage is a ``mapInPandas``
whose output is much smaller than its input (features, not pixels) —
so it never amplifies the shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
    ]
)


def decode_image(payload: bytes) -> tuple[int, int]:
    """STUB decode — deterministic fake dimensions from the payload.

    Real implementation would be ``PIL.Image.open(io.BytesIO(payload)).size``;
    the container has no image libs, so dimensions are derived from the
    first/last byte (keeps the full pipeline testable and exactly
    reproducible in the SQL oracle)."""
    if not payload:
        return (0, 0)
    return ((payload[0] % 64) + 1, (payload[-1] % 64) + 1)


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: each batch arrives as a pandas DataFrame; output
    is the (much smaller) feature frame.  This is the canonical decode/
    resize/frame-sample shape — swap the per-payload function, keep the
    plumbing."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            dims = [decode_image(p if p is not None else b"") for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "byte_len": [len(p) if p is not None else 0 for p in payloads],
                    "content_md5": [
                        hashlib.md5(p if p is not None else b"").hexdigest() for p in payloads
                    ],
                    "fake_width": [d[0] for d in dims],
                    "fake_height": [d[1] for d in dims],
                }
            )

    return binary_df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
    ]
)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """STUB resize — real implementation is PIL ``Image.resize``; the
    deterministic fake truncates/pads the payload to width*height bytes
    so output sizing (the part that matters to partition planning) is
    faithful."""
    target = width * height
    if len(payload) >= target:
        return payload[:target]
    return payload + b"\x00" * (target - len(payload))


def resize_batch(
    binary_df: DataFrame,
    width: int = 32,
    height: int = 32,
) -> DataFrame:
    """Arrow-batched resize: binary in -> (smaller) binary out.  The
    canonical image-normalization stage: output partition size is
    bounded by rows * width * height, so downstream shuffles are
    predictable regardless of input blob sizes."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [
                        resize_image(p if p is not None else b"", width, height)
                        for p in pdf["payload"]
                    ],
                    "out_width": width,
                    "out_height": height,
                }
            )

    return binary_df.mapInPandas(_resize, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    binary_df: DataFrame,
    every_n_bytes: int = 64,
    max_frames: int = 8,
) -> DataFrame:
    """STUB frame sampler — real implementation seeks keyframes via
    ffmpeg; the fake slices the payload every ``every_n_bytes``.  Shape
    matters: this is a 1->N exploding mapInPandas (one row per sampled
    frame), the pattern for video -> frame datasets.  At scale, cap
    ``max_frames`` so the output row count is bounded by input rows *
    max_frames."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                p = p if p is not None else b""
                for i in range(min(max_frames, max(1, len(p) // every_n_bytes))):
                    ids.append(int(doc_id))
                    nos.append(i)
                    frames.append(p[i * every_n_bytes : (i + 1) * every_n_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_no": nos, "frame": frames})

    return binary_df.mapInPandas(_sample, schema=FRAME_SCHEMA)


def documents_as_binary(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text as a binary payload (the harness
    has no real media blobs).  Production replaces this with a read of
    ``binary`` columns / ``binaryFile`` format."""
    return documents.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
