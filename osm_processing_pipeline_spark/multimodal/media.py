"""Multimodal columns: opaque binary media decoded by an Arrow-batched kernel.

``media_table`` explodes each document's ``media_refs`` into one row per
image with a binary ``payload``; ``image_features`` decodes every payload
and extracts its size, mean pixel and pixel checksum.  Both run as
``mapInPandas`` kernels, so the Python work is batched over Arrow and no
per-row UDF is planned.

Payloads are synthesized deterministically from the ``media_ref`` hash (it
stands in for an object-store fetch), so q49's DuckDB twin can rebuild every
pixel.  Format: 8-byte header = width:int32 LE, height:int32 LE, followed by
width*height uint8 pixels.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ref_seed(ref: str) -> int:
    return int.from_bytes(hashlib.md5(ref.encode()).digest()[:4], "little")


def synthesize_payload(ref: str) -> bytes:
    """Deterministic fake image for a media_ref: 8-byte header + pixels."""
    seed = _ref_seed(ref)
    w = 8 + seed % 9          # 8..16
    h = 8 + (seed // 16) % 9
    idx = np.arange(w * h, dtype=np.uint32)
    px = ((idx * 2654435761 + seed) >> 8).astype(np.uint8)
    return (np.int32(w).tobytes() + np.int32(h).tobytes() + px.tobytes())


def media_table(docs_with_media: DataFrame) -> DataFrame:
    """documents -> media rows (doc_id, media_ref, payload).
    Payload synthesis is Arrow-batched (stands in for an object-store fetch)."""
    refs = docs_with_media.select(
        "doc_id", F.explode("media_refs").alias("media_ref"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = [synthesize_payload(r) for r in pdf["media_ref"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "payload": payloads,
            })

    return refs.mapInPandas(
        gen, schema="doc_id string, media_ref string, payload binary")


def decode_fake(payload: bytes) -> tuple[int, int, np.ndarray]:
    w = int(np.frombuffer(payload[:4], "<i4")[0])
    h = int(np.frombuffer(payload[4:8], "<i4")[0])
    px = np.frombuffer(payload[8:8 + w * h], np.uint8).reshape(h, w)
    return w, h, px


def image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract: (doc_id, media_ref, width, height,
    mean_px_milli, px_checksum) — vectorized over Arrow batches."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for doc_id, ref, payload in zip(
                    pdf["doc_id"], pdf["media_ref"], pdf["payload"]):
                w, h, px = decode_fake(payload)
                rows.append((doc_id, ref, w, h,
                             int(px.astype(np.int64).sum() * 1000) // (w * h),
                             int(px.astype(np.int64).sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "media_ref", "width", "height",
                "mean_px_milli", "px_checksum"])

    return media.mapInPandas(
        kernel, schema=("doc_id string, media_ref string, width int, "
                        "height int, mean_px_milli long, px_checksum long"))

