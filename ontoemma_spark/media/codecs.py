"""Real, dependency-free media codecs for the multimodal operators.

The container has no PIL/cv2/torchaudio, but several formats are fully
decodable with the stdlib + numpy:

  BMP   24-bit uncompressed (BITMAPINFOHEADER)        — struct + numpy
  PNG   8-bit gray/RGB/RGBA, non-interlaced           — zlib + unfilter
  PPM   P6 binary                                     — header + frombuffer
  WAV   PCM 8/16-bit                                  — stdlib wave

multimodal.sample_frames decodes concatenated-P6 video streams for real
and derives each frame's aHash grid feature (image_features); the BMP,
PNG and WAV codecs are pinned by exact round-trip tests. Entropy-coded
formats (JPEG, MP3, MP4) genuinely need a codec library; those fall back
to the deterministic sha256 pseudo-feature, flagged decoded=false, so
"runs" vs "really decoded" is visible in the output.

Encoders for the same formats exist so tests can synthesize payloads
from known pixel/sample arrays and assert exact round-trips.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed)
# ---------------------------------------------------------------------------


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BMP."""
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = arr[y, :, ::-1].tobytes()  # BGR
        rows.append(row + b"\x00" * (row_size - len(row)))
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        start = data_off + i * row_size
        row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=start)
        y = h - 1 - i if bottom_up else i
        out[y] = row.reshape(w, 3)[:, ::-1]  # BGR → RGB
    return out


# ---------------------------------------------------------------------------
# PNG (8-bit, color types 0 gray / 2 RGB / 6 RGBA, non-interlaced)
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 6: 4}


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w) or (h, w, {1,3,4}) uint8 → PNG (filter 0 rows, one IDAT)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color_type = {1: 0, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG (gray/RGB/RGBA) → (h, w, c) uint8.
    Full filter support (None/Sub/Up/Average/Paeth)."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, idat, meta = 8, [], None
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype not in _CHANNELS or interlace != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={ctype}, interlace={interlace})"
                )
            meta = (w, h, _CHANNELS[ctype])
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, c = meta
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the running left pixel
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - c] if x >= c else 0
                b = int(prev[x])
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                elif ftype == 4:
                    cc = int(prev[x - c]) if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    cur[x] = (line[x] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    return out.reshape(h, w, c)


# ---------------------------------------------------------------------------
# PPM (P6 binary)
# ---------------------------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header: magic, width, height, maxval — whitespace separated
    parts, pos = [], 2
    while len(parts) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment line
            while payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while not payload[pos : pos + 1].isspace():
            pos += 1
        parts.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError("only maxval=255 PPM supported")
    return (
        np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


# ---------------------------------------------------------------------------
# WAV (PCM)
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """float array in [-1, 1] → 16-bit PCM mono WAV."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(sample_rate)
        wv.writeframes(pcm16.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (mono float32 in [-1, 1], sample_rate). Multi-channel
    input is averaged to mono."""
    with wave.open(io.BytesIO(payload), "rb") as wv:
        n, ch, width, rate = (
            wv.getnframes(),
            wv.getnchannels(),
            wv.getsampwidth(),
            wv.getframerate(),
        )
        raw = wv.readframes(n)
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return x, rate


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
