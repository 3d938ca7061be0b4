"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow batches via
``mapInPandas``.

The Spark-side contract (schemas, batch shapes, partitioning, UDF
signatures) is real and tested; the actual codec work is STUBBED behind
``decoder=`` hooks because no image/audio libraries exist in this
container — ``deterministic_fake_decoder`` stands in so the pipeline is
end-to-end testable, and a real decoder (PIL/ffmpeg) drops into the
same signature unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id long, kind string, feature array<float>, feat_dim int"


def deterministic_fake_decoder(payload: bytes, kind: str, dim: int = 16) -> np.ndarray:
    """Stand-in decode+featurize: a deterministic feature vector from
    the payload bytes.  Replace with a real codec (e.g. PIL -> resize ->
    channel means) keeping the same signature."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    chunks = np.array_split(arr.astype(np.float64), dim)
    return np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], np.ndarray] = deterministic_fake_decoder,
    batch_limit: int = 256,
) -> DataFrame:
    """media (MEDIA_SCHEMA) -> features (FEATURE_SCHEMA) via mapInPandas.

    Arrow streams batches through Python once; ``batch_limit`` re-chunks
    oversized Arrow batches so peak memory stays bounded even with
    multi-MB payloads per row (binary columns dominate batch size, not
    row count)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for start in range(0, len(b), batch_limit):
                chunk = b.iloc[start : start + batch_limit]
                feats = [decoder(p, k) for p, k in zip(chunk["payload"], chunk["kind"])]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].to_numpy(),
                        "kind": chunk["kind"].to_numpy(),
                        "feature": [f.tolist() for f in feats],
                        "feat_dim": [len(f) for f in feats],
                    }
                )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms int, frame binary"


def sample_frames(
    media: DataFrame,
    frame_bytes: int = 16,
    every_ms: int = 40,
    max_frames: int = 64,
) -> DataFrame:
    """Video frame-sampling PLUMBING (media -> one row per sampled
    frame): the Spark side — schema, fan-out row explosion, Arrow batch
    shape, bounded memory — is real; the 'decoder' slices the payload
    into fixed-size pseudo-frames because no video codec exists in this
    container (a real ffmpeg-style extractor drops into the same
    mapInPandas signature, emitting the same FRAME_SCHEMA).

    Output scales as rows_in x frames_per_row — the explosion happens
    DISTRIBUTED (inside mapInPandas), never on the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            mids, idxs, tss, frames = [], [], [], []
            for mid, payload, dur in zip(
                b["media_id"], b["payload"], b["duration_ms"]
            ):
                if payload is None:
                    continue
                n_frames = min(
                    max(len(payload) // frame_bytes, 0),
                    max_frames,
                    max(int(dur) // every_ms, 1) if dur else max_frames,
                )
                for j in range(n_frames):
                    mids.append(mid)
                    idxs.append(j)
                    tss.append(j * every_ms)
                    frames.append(bytes(payload[j * frame_bytes : (j + 1) * frame_bytes]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int32"),
                    "frame": frames if frames else pd.Series([], dtype=object),
                }
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def resize_features(
    features: DataFrame, out_dim: int = 8, feature_col: str = "feature"
) -> DataFrame:
    """Feature 'resize' (dimensionality pooling): mean-pool each feature
    vector down to out_dim buckets — the vectorized stand-in for an
    image resize's box filter, running on the already-extracted feature
    column so the plumbing is codec-independent."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = [np.asarray(f, dtype=np.float64) for f in b[feature_col]]
            pooled = []
            for f in feats:
                if len(f) == 0:
                    pooled.append(np.zeros(out_dim, dtype=np.float32).tolist())
                    continue
                chunks = np.array_split(f, out_dim)
                pooled.append(
                    np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32).tolist()
                )
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"].to_numpy(),
                    "kind": b["kind"].to_numpy(),
                    "feature": pooled,
                    "feat_dim": [out_dim] * len(pooled),
                }
            )

    return features.mapInPandas(run, schema=FEATURE_SCHEMA)


def generate_media(spark, n: int, kind: str = "image", partitions: int = 4) -> DataFrame:
    """Deterministic fake media table: payload bytes derived from the id
    (same purity rule as datagen.generate_pages)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy(dtype=np.int64)
            payloads = [
                (np.arange(64, dtype=np.uint8) * ((i % 251) + 1) % 256).astype(np.uint8).tobytes()
                for i in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kind,
                    "payload": payloads,
                    "mime": [f"{kind}/fake"] * len(ids),
                    "width": [64] * len(ids),
                    "height": [1] * len(ids),
                    "duration_ms": [0] * len(ids),
                }
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)
