"""Multimodal column plumbing: video as an opaque binary column with
typed metadata.

Frame sampling does REAL decoding for the one video container that is
decodable without external codec libraries (media/codecs.py:
concatenated-P6 streams — aHash-style 8x8 block-mean grid features per
frame). Entropy-coded containers (MP4 etc.) genuinely need a codec
library the container lacks; those fall back to a deterministic sha256
pseudo-feature and are flagged decoded=false, so "ran" vs "really
decoded" is visible in the output.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ontoemma_spark.media import codecs

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, width int, height int"
)


def _sha_fallback(payload: bytes) -> list[float]:
    """Deterministic 8-dim pseudo-feature for formats that need a real
    codec library (JPEG/MP3/…): sha256 bytes scaled to [0, 1)."""
    digest = hashlib.sha256(payload or b"").digest()
    return [digest[i] / 256.0 for i in range(8)]


FRAME_SCHEMA = (
    "media_id string, frame_idx int, n_frames int, decoded boolean, "
    "width int, height int, feature array<float>"
)


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling over binary video columns: one OUTPUT ROW per
    sampled frame (indices 0, k, 2k, … — the standard stride sample).
    The real-decode path is the concatenated-P6 stream container
    (codecs.split_ppm_stream) — the one video container fully decodable
    without a codec library; each sampled frame yields its dims and the
    aHash grid feature. Entropy-coded containers (MP4 etc.) emit a
    single flagged row (decoded=false, frame_idx=0, n_frames=0, sha
    pseudo-feature) — the documented seam where a production codec
    plugs in.

    Scale: mapInPandas row-fanout (1 video → ceil(n_frames/k) rows)
    stays inside the task — no shuffle; a frame row carries FEATURES,
    not pixels, so the operator's output is orders of magnitude smaller
    than its input (run it in the scan stage, before any exchange)."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "frame_idx", "n_frames", "decoded",
                    "width", "height", "feature")}

            def emit(mid, idx, n, ok, w, h, feat):
                out["media_id"].append(mid)
                out["frame_idx"].append(idx)
                out["n_frames"].append(n)
                out["decoded"].append(ok)
                out["width"].append(w)
                out["height"].append(h)
                out["feature"].append(feat)

            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(b or b"")
                try:
                    frames = codecs.split_ppm_stream(payload)
                except Exception:
                    emit(mid, 0, 0, False, 0, 0, _sha_fallback(payload))
                    continue
                for idx in range(0, len(frames), every_k):
                    arr = codecs.decode_ppm(frames[idx])
                    emit(mid, idx, len(frames), True,
                         arr.shape[1], arr.shape[0],
                         codecs.image_features(arr, grid=8))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=FRAME_SCHEMA
    )


def synthetic_videos(spark, n: int = 24) -> DataFrame:
    """Deterministic 'video' table: concatenated-P6 streams with
    formula-derived shape — video i has 3 + i%4 frames of
    (4 + i%3) × (5 + i%2) pixels, frame j's pixel k = (i*31 + j*17 + k)
    % 256 — so relational properties (frame counts, dims) are
    arithmetic-checkable without decoding, while every 5th payload is
    an MP4-magic blob exercising the flagged fallback."""
    import numpy as np

    rows = []
    for i in range(n):
        if i % 5 == 4:
            payload = b"\x00\x00\x00\x18ftypmp42" + bytes(
                [(i * 11 + j) % 256 for j in range(24)]
            )
        else:
            h, w = 4 + i % 3, 5 + i % 2
            frames = [
                ((np.arange(h * w * 3, dtype=np.int64) * 1 + i * 31 + j * 17)
                 % 256).astype(np.uint8).reshape(h, w, 3)
                for j in range(3 + i % 4)
            ]
            payload = codecs.encode_ppm_stream(frames)
        rows.append((f"v{i:04d}", "video", payload, "application/octet-stream",
                     None, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
