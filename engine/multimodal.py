"""Multimodal column plumbing (task brief): image/audio/video as opaque
`binary` columns with typed metadata, processed via Arrow-batched
`mapInPandas`.

The container has no image/audio libraries, so the DECODE step is a
deterministic fake behind `decode_media` (clearly marked; swap in
PIL/torchaudio/ffmpeg in production) — everything Spark-side is real and
tested: schemas, batch iteration, partition sizing, UDF signatures.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),  # opaque encoded bytes
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, sha256 string, feature array<float>"
)

FRAME_SCHEMA = "media_id long, frame_idx int, frame_ts_ms int, frame array<float>"

_FEATURE_DIM = 16


def decode_media(payload: bytes, kind: str) -> np.ndarray:
    """STUB DECODER — deterministic fake (container has no PIL/ffmpeg).

    Real implementation: PIL.Image.open / torchaudio.load / pyav demux.
    The fake maps bytes → a stable float vector so downstream plumbing
    (batch shapes, schemas, joins) is fully testable."""
    digest = hashlib.sha256(payload or b"").digest()
    arr = np.frombuffer(digest[: _FEATURE_DIM * 2], dtype=np.uint16)
    return (arr.astype(np.float32) / 65535.0)[:_FEATURE_DIM]


def extract_features(media: DataFrame, batch_note: str = "") -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out.
    Heavy model init would go once per iterator (not per batch)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition init happens HERE (e.g. load model weights once)
        for pdf in batches:
            feats = [decode_media(p, k).tolist() for p, k in zip(pdf["payload"], pdf["kind"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b or b"")).astype("int32"),
                    "sha256": pdf["payload"].map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": feats,
                }
            )

    return media.mapInPandas(fn, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plumbing: explodes each video into frame rows at
    a fixed cadence; the frame tensor is the stub decode (real: pyav seek)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame": []}
            for r in pdf.itertuples(index=False):
                if r.kind != "video" or not r.duration_ms:
                    continue
                for i, ts in enumerate(range(0, int(r.duration_ms), every_ms)):
                    rows["media_id"].append(r.media_id)
                    rows["frame_idx"].append(i)
                    rows["frame_ts_ms"].append(ts)
                    rows["frame"].append(
                        decode_media((r.payload or b"") + ts.to_bytes(4, "little"), "video").tolist()
                    )
            yield pd.DataFrame(rows)

    return media.mapInPandas(fn, FRAME_SCHEMA)


def synthetic_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic fake media table for tests/benches (no external data)."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.integers(0, 256, size=int(rng.integers(64, 2048)), dtype=np.uint8).tobytes()
        rows.append(
            (
                i,
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                bytearray(payload),
                int(rng.integers(16, 512)) if kind == "image" else None,
                int(rng.integers(16, 512)) if kind == "image" else None,
                int(rng.integers(1000, 10000)) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
