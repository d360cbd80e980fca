"""Dependency-free media codecs for the multimodal operators.

The container has no PIL/cv2/torchaudio. P6 binary PPM is fully
decodable with numpy alone, so multimodal.sample_frames decodes
concatenated-P6 video streams for real and derives each frame's aHash
grid feature (image_features). Entropy-coded formats (JPEG, MP3, MP4)
genuinely need a codec library; those fall back to the deterministic
sha256 pseudo-feature, flagged decoded=false, so "runs" vs "really
decoded" is visible in the output.

The PPM encoder lets synthetic_videos build payloads from known pixel
arrays, and tests assert exact round-trips.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# PPM (P6 binary)
# ---------------------------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    w, h, maxval, pos = _ppm_header(payload, 0)
    if maxval != 255:
        raise ValueError("only maxval=255 PPM supported")
    return (
        np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


# ---------------------------------------------------------------------------
# Concatenated-P6 streams + real features
# ---------------------------------------------------------------------------


def _ppm_header(payload: bytes, pos: int) -> tuple[int, int, int, int]:
    """Parse one P6 header starting at pos (after checking the magic):
    (width, height, maxval, data_start). Whitespace-separated fields,
    '#' comment lines allowed."""
    parts, p = [], pos + 2
    n = len(payload)
    while len(parts) < 3:
        while p < n and payload[p : p + 1].isspace():
            p += 1
        if payload[p : p + 1] == b"#":
            while p < n and payload[p : p + 1] != b"\n":
                p += 1
            continue
        start = p
        while p < n and not payload[p : p + 1].isspace():
            p += 1
        if start == p:
            raise ValueError("truncated PPM header")
        parts.append(int(payload[start:p]))
    w, h, maxval = parts
    return w, h, maxval, p + 1  # single whitespace after maxval


def encode_ppm_stream(frames: list[np.ndarray]) -> bytes:
    """Concatenated-P6 'video' container: raw frames back-to-back, each
    a self-describing P6 member. The one video container that is fully
    decodable without a codec library — the multimodal frame-sampling
    operator's real-decode path (entropy-coded containers like MP4 stay
    behind the flagged sha fallback seam)."""
    return b"".join(encode_ppm(f) for f in frames)


def split_ppm_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated-P6 stream into its member frame payloads.
    Strict: the whole payload must be consumed by valid members —
    trailing or interleaved garbage raises (a half-parsed video should
    fail loudly into the operator's corrupt_* fallback, not truncate
    silently)."""
    members, pos, n = [], 0, len(payload)
    while pos < n:
        if payload[pos : pos + 2] != b"P6":
            raise ValueError(f"non-P6 bytes at offset {pos}")
        w, h, maxval, data_start = _ppm_header(payload, pos)
        if maxval != 255:
            raise ValueError("only maxval=255 PPM supported")
        end = data_start + w * h * 3
        if end > n:
            raise ValueError("truncated PPM member")
        members.append(bytes(payload[pos:end]))
        pos = end
    return members


def resize_block_mean(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Block-mean downsample (area interpolation on integer grids) —
    the resize primitive for the aHash-style grid feature."""
    h, w = gray.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w), dtype=np.float64)
    for i in range(out_h):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)  # ≥1 px: upsampling
        y0 = min(y0, h - 1)                         # degenerates to NN
        for j in range(out_w):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            x0 = min(x0, w - 1)
            out[i, j] = gray[y0:y1, x0:x1].mean()
    return out


def image_features(arr: np.ndarray, grid: int = 8) -> list[float]:
    """Luma plane → grid×grid block means / 255 (the aHash grid): a real,
    classical image fingerprint feature."""
    a = arr.astype(np.float64)
    if a.ndim == 3 and a.shape[2] >= 3:
        luma = 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    else:
        luma = a.reshape(a.shape[0], a.shape[1], -1)[:, :, 0]
    g = resize_block_mean(luma, grid, grid) / 255.0
    return [float(v) for v in g.ravel()]
