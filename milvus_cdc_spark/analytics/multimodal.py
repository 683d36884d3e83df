"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (SURVEY north-star): a multimodal table carries
``payload BINARY`` + ``media_type STRING`` + metadata struct. Decode /
feature-extract / resize / frame-sample run as Arrow-batched pandas
functions over ``mapInPandas`` — the Spark-side plumbing (schema,
partition-preserving iteration, batch shape) is real; the codec itself is
STUBBED because this container ships no image/audio libraries.

``extract_features`` uses a deterministic fake "decoder" (byte length +
md5) so the pipeline is testable end-to-end and oracle-checkable; swap
``_decode_stub`` for a real PIL/librosa call in production.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id bigint, media_type string, n_bytes bigint, content_hash string"


def _decode_stub(payload: bytes) -> dict:
    """Deterministic stand-in for a media decoder.

    Real implementation would be e.g. PIL.Image.open(io.BytesIO(payload)).
    Raising NotImplementedError for codecs keeps the contract honest.
    """
    return {"n_bytes": len(payload), "content_hash": hashlib.md5(payload).hexdigest()}


def as_media_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Test harness: treat utf-8 text bytes as an opaque media payload."""
    return df.select(
        F.col(id_col),
        F.lit("image/fake").alias("media_type"),
        F.col(text_col).cast("binary").alias("payload"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, Arrow batches out.

    Partition-preserving (no shuffle); at 100 TB each executor decodes its
    own partitions' payloads. Batch size is controlled by
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_decode_stub)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": feats.map(lambda d: d["n_bytes"]),
                    "content_hash": feats.map(lambda d: d["content_hash"]),
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, payload binary"
)

FRAME_SCHEMA = "doc_id bigint, frame_no bigint, n_bytes bigint, frame_hash string"


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: Arrow batches in/out, one row per input row, new
    payload + target dims. The "resampler" is a deterministic stub
    (byte stride-sampling to width*height bytes); a real implementation
    swaps in PIL's Image.resize. Partition-preserving — no shuffle."""
    target = width * height

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def sample(payload: bytes) -> bytes:
                if len(payload) == 0:
                    return b""
                stride = max(len(payload) // target, 1)
                return payload[::stride][:target]

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": width,
                    "height": height,
                    "payload": pdf["payload"].map(sample),
                }
            )

    return media.mapInPandas(resize, RESIZE_SCHEMA)


def sample_frames(
    media: DataFrame, frame_bytes: int = 64, every_n: int = 3
) -> DataFrame:
    """Frame sampling: treat the payload as fixed-size frames and emit
    every ``every_n``-th frame as its own row (1 input row → N output
    rows — the mapInPandas row-exploding shape). Deterministic: frame
    hash = md5 of the frame's bytes, so the whole pipeline is
    oracle-checkable. At 100 TB the expansion stays partition-local."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("doc_id", "frame_no", "n_bytes", "frame_hash")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
                for fno in range(0, n_frames, every_n):
                    chunk = payload[fno * frame_bytes : (fno + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(fno)
                    out["n_bytes"].append(len(chunk))
                    out["frame_hash"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(frames, FRAME_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, n_samples bigint, n_windows bigint, "
    "total_energy bigint, max_window_energy bigint"
)


def audio_energy_features(media: DataFrame, window: int = 256) -> DataFrame:
    """Audio feature extraction that is NOT a stub: interpret the payload
    as little-endian PCM int16 mono (a trailing odd byte is dropped,
    the usual WAV-body convention) and compute per-window energy —
    sum of squared samples over ``window``-sample frames — entirely in
    numpy inside ``mapInPandas``. This is the real DSP shape (librosa's
    RMS/VAD front-end is this plus a sqrt); energies stay EXACT int64,
    so the operator is oracle-checkable bit-for-bit.

    Per-doc outputs (sample count, window count, total and max window
    energy) keep the result frame one row per input row —
    partition-preserving, no shuffle, no driver traffic.
    """
    import numpy as np

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id",
                    "n_samples",
                    "n_windows",
                    "total_energy",
                    "max_window_energy",
                )
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                usable = len(payload) // 2 * 2
                samples = np.frombuffer(payload[:usable], dtype="<i2").astype(
                    np.int64
                )
                n = len(samples)
                n_win = (n + window - 1) // window
                sq = samples * samples
                wins = [
                    int(sq[w * window : (w + 1) * window].sum())
                    for w in range(n_win)
                ]
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["n_windows"].append(n_win)
                out["total_energy"].append(int(sq.sum()))
                out["max_window_energy"].append(max(wins) if wins else 0)
            yield pd.DataFrame(out)

    return media.mapInPandas(energies, AUDIO_SCHEMA)
