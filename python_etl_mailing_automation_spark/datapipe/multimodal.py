"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step itself is STUBBED (the image/audio codec libraries are
not installed); everything Spark-side is
real and tested: the schema convention, the Arrow batch path, the UDF
signatures, and the partition-size control that keeps large binary
payloads from blowing executor memory.

Schema convention for a multimodal column ``media``:

    media: binary                       -- the raw payload
    media_meta: struct<
        mime: string, n_bytes: long,    -- always present
        width: int, height: int,        -- image-only, null otherwise
        duration_ms: long               -- audio/video-only
    >

Scale notes: binary payloads dominate row size, so repartition by target
batch bytes (``spark.sql.files.maxPartitionBytes`` at scan;
``repartition`` after synthesis) before any mapInPandas stage, and keep
batch size bounded via ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, n_bytes long, head_hex string"


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize an opaque binary column + metadata struct from text.

    Stands in for reading real image/audio bytes; the plumbing (binary
    type, metadata struct, downstream UDF batch shape) is identical.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("media", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
        ),
    )


RESIZED_SCHEMA = "doc_id long, width int, height int, thumb binary"
FRAMES_SCHEMA = "doc_id long, frame_idx int, frame binary"


def decode_and_resize(
    df: DataFrame, *, id_col: str = "doc_id", width: int = 64, height: int = 64
) -> DataFrame:
    """Image decode→resize over binary payloads (Arrow-batched).

    The decode itself is stubbed (no codec libs here): the deterministic
    fake 'thumbnail' is the first width*height//64 payload bytes. The
    Spark-side contract — binary in, fixed-size binary out, schema, batch
    shape — is the real one; deployments swap `_fake_resize` for
    PIL/libvips.
    """

    def _fake_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = max(1, width * height // 64)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": width,
                    "height": height,
                    "thumb": pdf["media"].map(lambda b: bytes(b[:n])),
                }
            )

    return df.select(id_col, "media").mapInPandas(_fake_resize, RESIZED_SCHEMA)


def sample_frames(
    df: DataFrame, *, id_col: str = "doc_id", every_n_bytes: int = 64, max_frames: int = 4
) -> DataFrame:
    """Video frame sampling over binary payloads: one output row per
    sampled frame (row-expanding mapInPandas — the batch shape a real
    ffmpeg-backed sampler uses; byte-slicing stands in for decode)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame": []}
            for doc_id, payload in zip(pdf[id_col], pdf["media"]):
                data = bytes(payload)
                for i in range(min(max_frames, max(1, len(data) // every_n_bytes))):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame"].append(data[i * every_n_bytes : (i + 1) * every_n_bytes])
            yield pd.DataFrame(out)

    return df.select(id_col, "media").mapInPandas(_sample, FRAMES_SCHEMA)


def extract_features(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Deterministic fake features (payload length + first-8-byte hex) stand
    in for the stubbed decoder output; the mapInPandas batch shape is the
    real one a model-feature extractor would use.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": pdf["media"].map(len).astype("int64"),
                    "head_hex": pdf["media"].map(lambda b: bytes(b[:8]).hex()),
                }
            )

    return df.select(id_col, "media").mapInPandas(_extract, FEATURE_SCHEMA)
