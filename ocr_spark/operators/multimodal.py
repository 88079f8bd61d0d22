"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted in Arrow batches via ``mapInPandas``.

The container has no image/audio codecs, so the *decode* is a
clearly-marked deterministic stub (`_fake_decode`) — what is real and
tested is everything Spark-side: the binary+struct schema, the Arrow
batch shape through mapInPandas, partition-preserving execution (no
shuffle), and the feature-output contract. Swapping `_fake_decode` for
PIL/ffmpeg is a one-function change on a real cluster.

Scale notes: binary payloads dominate row size → batches are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set low in
plans/session.py); decode is embarrassingly parallel with zero shuffle,
so throughput scales linearly with cores until IO-bound.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.udfs import map_batches

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", StringType()),
    ]
)


def to_media_table(docs: DataFrame) -> DataFrame:
    """Wrap document text as an opaque binary payload with typed
    metadata — the multimodal table shape (image/audio payloads would
    land here byte-identical)."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
    )


def _as_bytes(payload) -> bytes:
    """Arrow binary payloads arrive as bytes or bytearray/memoryview
    depending on batch path — one coercion point for all decoders."""
    return payload if isinstance(payload, bytes) else bytes(payload)


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int]:
    """STUB decode. Real decode (PIL.Image.open / soundfile / pyav)
    is unavailable in this container — this deterministic stand-in
    derives stable pseudo-dimensions from the payload digest so the
    batch plumbing, schema, and tests are fully exercised.
    Replace body with the real codec on a cluster with codecs installed.
    """
    d = hashlib.sha256(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    return width, height


def _features_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    dims = [
        _fake_decode(_as_bytes(p), m) for p, m in zip(pdf["payload"], pdf["media_type"])
    ]
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].astype("int64"),
            "media_type": pdf["media_type"],
            "n_bytes": pdf["n_bytes"].astype("int64"),
            "width": pd.Series([w for w, _ in dims], dtype="int32"),
            "height": pd.Series([h for _, h in dims], dtype="int32"),
            "checksum": [hashlib.md5(_as_bytes(p)).hexdigest() for p in pdf["payload"]],
        }
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Batch feature extraction over the media table. One mapInPandas
    stage, schema-stable output, no shuffle."""
    return map_batches(media, _features_batch, FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("resized_width", IntegerType()),
        StructField("resized_height", IntegerType()),
        StructField("thumbnail", BinaryType()),
    ]
)

_N_FRAMES = 4  # frames sample_frames takes from each video payload

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_checksum", StringType()),
    ]
)


def _resize_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        b = _as_bytes(payload)
        w, h = _fake_decode(b, "image/png")
        scale = min(1.0, 64 / max(w, h))
        rw, rh = max(1, int(w * scale)), max(1, int(h * scale))
        # STUB thumbnail: digest-derived bytes, length rw*rh//64
        thumb = hashlib.sha256(b).digest() * (1 + rw * rh // 2048)
        rows.append((int(doc_id), w, h, rw, rh, thumb[: max(1, rw * rh // 64)]))
    return pd.DataFrame(rows, columns=RESIZE_SCHEMA.names)


def resize_images(media: DataFrame) -> DataFrame:
    """Image resize plumbing: aspect-preserving target dims (longest
    side at most 64) + a deterministic stub thumbnail (real path:
    PIL.Image.thumbnail).
    Filters to image payloads first so the decode stage scans only the
    relevant rows (predicate applied before the Python boundary)."""
    return map_batches(
        media.filter(F.col("media_type") == "image/png"), _resize_batch, RESIZE_SCHEMA
    )


def _frames_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        s = _as_bytes(payload).decode("utf-8", errors="replace")
        step = max(1, len(s) // _N_FRAMES)
        for i in range(_N_FRAMES):
            # STUB frame decode: checksum of the char window
            window = s[i * step : (i + 1) * step] or s
            rows.append((int(doc_id), i, hashlib.md5(window.encode("utf-8")).hexdigest()))
    return pd.DataFrame(rows, columns=FRAME_SCHEMA.names)


def sample_frames(media: DataFrame) -> DataFrame:
    """Video frame-sampling plumbing: ``_N_FRAMES`` evenly-spaced frames
    per payload (real path: pyav seek+decode). One input row fans out
    to ``_N_FRAMES`` output rows — a per-batch function may return
    more rows than it was given.

    The STUB windows over decoded CHARACTERS, not raw bytes: byte
    windows can split multi-byte sequences, which no SQL oracle can
    hash portably — char windows keep the oracle valid for any unicode
    payload (a real frame decoder replaces this wholesale anyway)."""
    return map_batches(
        media.filter(F.col("media_type") == "video/mp4"), _frames_batch, FRAME_SCHEMA
    )
