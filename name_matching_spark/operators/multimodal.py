"""Multimodal column plumbing (binary payloads with typed metadata).

Images/audio/video are opaque ``binary`` columns plus typed metadata.  The
decode/feature-extract kernels run as Arrow-batched ``mapInPandas`` so each
task processes whole record batches; the real codecs are STUBBED (no
image/audio libraries in this container) behind ``decoder=`` hooks, with a
deterministic fake decoder exercising the full Spark plumbing (schema,
batching, partitioning) so the pipeline shape is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_META_SCHEMA = ("id string, byte_len int, media_type string, "
                     "width int, height int, ok boolean")
MEDIA_FEATURES_SCHEMA = "id string, features array<float>"


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image decoder: pretends the md5 prefix
    encodes the dimensions.  Replace with a real codec via ``decoder=``."""
    if not payload:
        return {"media_type": "empty", "width": 0, "height": 0, "ok": False}
    h = hashlib.md5(payload).digest()
    return {
        "media_type": "image/fake",
        "width": 16 + h[0] % 240,
        "height": 16 + h[1] % 240,
        "ok": True,
    }


def decode_media(df: DataFrame, id_col: str, binary_col: str,
                 decoder=fake_decode) -> DataFrame:
    """-> (id, byte_len, media_type, width, height, ok) via mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[binary_col]):
                payload = bytes(payload) if payload is not None else b""
                meta = decoder(payload)
                rows.append({"id": str(rid), "byte_len": len(payload),
                             **meta})
            yield pd.DataFrame(
                rows, columns=["id", "byte_len", "media_type", "width",
                               "height", "ok"])

    return df.select(id_col, binary_col).mapInPandas(
        run, schema=MEDIA_META_SCHEMA)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize: the 'resized' payload is
    the input cycled/truncated to width*height//64 bytes (a real resizer
    returns re-encoded pixels; the byte-budget shape is what the Spark
    plumbing cares about).  Replace via ``resizer=``."""
    if not payload:
        return b""
    k = max(1, (width * height) // 64)
    reps = (k // len(payload)) + 1
    return (payload * reps)[:k]


def resize_media(df: DataFrame, id_col: str, binary_col: str,
                 width: int = 64, height: int = 64,
                 resizer=fake_resize) -> DataFrame:
    """-> (id, payload, width, height, byte_len) resized via mapInPandas.

    Arrow-batched binary-in/binary-out: the real-codec path has the same
    signature, so swapping ``resizer=`` is the only change needed."""
    schema = ("id string, payload binary, width int, height int, "
              "byte_len int")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[binary_col]):
                payload = bytes(payload) if payload is not None else b""
                out = resizer(payload, width, height)
                rows.append({"id": str(rid), "payload": out,
                             "width": width, "height": height,
                             "byte_len": len(out)})
            yield pd.DataFrame(
                rows, columns=["id", "payload", "width", "height",
                               "byte_len"])

    return df.select(id_col, binary_col).mapInPandas(run, schema=schema)


def fake_frame(payload: bytes, frame_idx: int) -> str:
    """Deterministic stand-in for video frame extraction: the frame key is
    md5(payload || ':' || idx) -- reproducible in SQL, so the whole
    frame-sampling plan is value-oracle-able."""
    return hashlib.md5(payload + f":{frame_idx}".encode()).hexdigest()


def sample_frames(df: DataFrame, id_col: str, binary_col: str,
                  n_frames: int = 4, sampler=fake_frame) -> DataFrame:
    """-> (id, frame_idx, frame_key, frame_bytes): ``n_frames`` rows per
    video payload via mapInPandas (one decode pass per payload feeding all
    its frames -- a real decoder seeks once and emits n frames, so the
    fan-out lives inside the batch, not as a Spark explode over repeated
    decodes)."""
    schema = ("id string, frame_idx int, frame_key string, "
              "frame_bytes binary")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[binary_col]):
                payload = bytes(payload) if payload is not None else b""
                for i in range(n_frames):
                    key = sampler(payload, i)
                    rows.append({"id": str(rid), "frame_idx": i,
                                 "frame_key": key,
                                 "frame_bytes": key.encode()})
            yield pd.DataFrame(
                rows, columns=["id", "frame_idx", "frame_key",
                               "frame_bytes"])

    return df.select(id_col, binary_col).mapInPandas(run, schema=schema)


def extract_features(df: DataFrame, id_col: str, binary_col: str,
                     dim: int = 8) -> DataFrame:
    """-> (id, features): deterministic fake feature vector from payload
    bytes (md5-seeded), exercising the array<float> batch path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for rid, payload in zip(pdf[id_col], pdf[binary_col]):
                payload = bytes(payload) if payload is not None else b""
                h = hashlib.md5(payload).digest()
                ids.append(str(rid))
                feats.append([h[i % 16] / 255.0 for i in range(dim)])
            yield pd.DataFrame({"id": ids, "features": feats})

    return df.select(id_col, binary_col).mapInPandas(
        run, schema=MEDIA_FEATURES_SCHEMA)
