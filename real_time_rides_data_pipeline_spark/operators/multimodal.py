"""Multimodal columns: opaque binary payloads + typed metadata, processed
with Arrow-batched ``mapInPandas`` (SURVEY.md §2.9).

No image or audio decoder is a dependency, so the pipeline ships a
deterministic fake ("header parse": derive width/height/duration from the
byte payload) in place of a PIL/soundfile decode. The Spark-side plumbing —
binary schema, Arrow batch shape, partition-parallel UDF execution — is
real and tested end-to-end.

Scale notes: binary payloads ride the scan as parquet BYTE_ARRAY; metadata
extraction is a narrow map (no shuffle); frame-sampling/resize fan-out uses
``mapInPandas`` so one input row may yield N output rows without exploding
through a join.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def fake_image_meta(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for a header parse: (width, height, format)
    derived from payload length/first byte. A PIL decode's ``.size`` drops in
    here — the Spark plumbing is identical."""
    n = len(payload)
    width = n % 64 + 16
    height = (n // 64) % 64 + 16
    fmt = "png" if (payload[:1] or b"\x00")[0] % 2 == 0 else "jpeg"
    return width, height, fmt


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Make the opaque binary column ``payload`` from ``text`` (fixtures
    have no real media; encoding text gives a deterministic, realistic-size
    payload)."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def extract_image_metadata(df: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction over ``(doc_id, payload)``: one Arrow
    batch in, one out — the real decode drop-in point. Output: doc_id,
    byte_len, width, height, format."""
    schema = "doc_id long, byte_len long, width int, height int, format string"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            meta = [fake_image_meta(p if p is not None else b"") for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "byte_len": [len(p) if p is not None else 0 for p in payloads],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "format": [m[2] for m in meta],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(extract, schema)


def fake_audio_meta(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an audio header parse:
    (sample_rate, duration_ms) derived from payload bytes."""
    n = len(payload)
    rate = (8000, 16000, 44100)[n % 3]
    return rate, n * 1000 // 32


def extract_audio_metadata(df: DataFrame) -> DataFrame:
    """mapInPandas audio-metadata extraction over ``(doc_id, payload)`` (the
    audio twin of extract_image_metadata): one Arrow batch in, one out;
    ``fake_audio_meta`` is the real-decoder drop-in point. Output: doc_id,
    byte_len, sample_rate, duration_ms."""
    schema = "doc_id long, byte_len long, sample_rate int, duration_ms long"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p if p is not None else b"" for p in pdf["payload"]]
            meta = [fake_audio_meta(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "byte_len": [len(p) for p in payloads],
                    "sample_rate": [m[0] for m in meta],
                    "duration_ms": [m[1] for m in meta],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(extract, schema)


def resize_images(df: DataFrame) -> DataFrame:
    """Image-resize plumbing over ``(doc_id, payload)``: mapInPandas 1→1
    transform whose output payload is a fixed-budget 32×32 byte grid (a
    real implementation calls a PIL ``Image.resize((32, 32))`` and
    re-encodes — byte-sampling here keeps the batch shape, output size, and
    determinism identical). The narrow map keeps payloads scan-local: no
    shuffle at any scale."""
    schema = "doc_id long, resized binary, resized_len long"
    budget = 32 * 32

    def one(p: bytes | None) -> bytes:
        p = p or b""
        step = max(len(p) // budget, 1)
        return bytes(p[::step][:budget])

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # zip over raw columns, not .iterrows() (which builds a Series
            # per row and dominates the batch cost ~10x)
            payloads = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "resized": payloads,
                    "resized_len": [len(p) for p in payloads],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(resize, schema)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame-sampling fan-out over ``(doc_id, payload)``: each payload
    yields 3 chunk rows (a video decoder would emit real frames).
    Demonstrates the 1→N mapInPandas shape: output rows ≠ input rows, no
    join/explode."""
    schema = "doc_id long, frame_idx int, frame_bytes binary"
    n_frames = 3

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = payload or b""
                step = max(len(payload) // n_frames, 1)
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(bytes(payload[i * step : i * step + step]))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_bytes": frames})

    return df.select("doc_id", "payload").mapInPandas(sample, schema)
