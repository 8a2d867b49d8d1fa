"""Multimodal columns: binary payloads + typed metadata.

A training-data pipeline at 100 TB carries images/video as opaque
`binary` columns beside typed metadata, and decodes only inside Arrow
batches at the last moment. The Spark-side plumbing here — schemas,
mapInPandas batch shape, partition sizing — is real and tested, and so
is this REAL pure-NumPy codec (no external libraries needed):

  * BMP  — uncompressed 24/32-bit BI_RGB, decode + encode
           (image_features and resize_images run end-to-end on real bytes)

Every other image format, and video containers, need PIL/libvips/ffmpeg,
which this package does not depend on: those kernels raise
NotImplementedError unless `fake=True`, which produces a deterministic
pseudo-decode suitable for pipeline testing. A real deployment swaps the
per-payload decode call inside the same batch kernel; the Spark plan is
identical.

Pattern mirrors extract_text_udf (functions/normalize.py): payload ->
features is always Iterator[pd.DataFrame] -> Iterator[pd.DataFrame] over
Arrow, never per-row Python at the DataFrame level.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

IMAGE_FEATURES_SCHEMA = (
    "url string, width int, height int, n_bytes long, phash long"
)

FRAME_SAMPLE_SCHEMA = "url string, frame_idx int, frame_phash long"

RESIZED_SCHEMA = "url string, width int, height int, payload binary"


# ------------------------------------------------------- real codecs (NumPy)

def is_bmp(data: bytes) -> bool:
    return len(data) >= 54 and data[:2] == b"BM"


def decode_bmp(data: bytes) -> tuple[int, int, np.ndarray]:
    """Uncompressed 24/32-bit BI_RGB BMP -> (width, height, gray float64
    (h, w)). Pure NumPy: header via struct, pixel rows via one frombuffer
    + reshape (rows padded to 4 bytes, stored bottom-up unless height<0)."""
    if not is_bmp(data):
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0 or bpp not in (24, 32) or width <= 0 or height == 0:
        raise ValueError(
            f"unsupported BMP (bpp={bpp}, compression={compression})"
        )
    bottom_up = height > 0
    h = abs(height)
    nbytes = bpp // 8
    stride = ((bpp * width + 31) // 32) * 4
    raw = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=pix_off)
    rows = raw.reshape(h, stride)[:, : width * nbytes]
    bgr = rows.reshape(h, width, nbytes)[:, :, :3].astype(np.float64)
    if bottom_up:
        bgr = bgr[::-1]
    # simple equal-weight gray (deterministic; phash only needs ordering)
    return width, h, bgr.mean(axis=2)


def encode_bmp(gray_or_rgb: np.ndarray) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 -> 24-bit BI_RGB BMP bytes."""
    a = np.asarray(gray_or_rgb)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    a = np.clip(a, 0, 255).astype(np.uint8)
    h, w, _ = a.shape
    stride = ((24 * w + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    body = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return head + info + body


def _pool8(gray: np.ndarray) -> np.ndarray:
    """(h, w) -> (8, 8) block means (blocks clamped to >=1 px, so any
    input >= 1x1 works)."""
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    out = np.empty((8, 8), dtype=np.float64)
    for i in range(8):
        y0 = min(int(ys[i]), h - 1)
        y1 = max(int(ys[i + 1]), y0 + 1)
        for j in range(8):
            x0 = min(int(xs[j]), w - 1)
            x1 = max(int(xs[j + 1]), x0 + 1)
            out[i, j] = gray[y0:y1, x0:x1].mean()
    return out


def _resample_nearest(gray: np.ndarray, th: int, tw: int) -> np.ndarray:
    h, w = gray.shape[:2]
    yi = np.minimum((np.arange(th) * h) // th, h - 1)
    xi = np.minimum((np.arange(tw) * w) // tw, w - 1)
    return gray[yi][:, xi]


def _fake_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic stand-in for an image decoder: derives a stable
    (width, height, 8x8 grayscale) from the payload bytes."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] * 8
    height = 64 + digest[1] * 8
    gray = np.frombuffer(digest, dtype=np.uint8)[:32].astype(np.float64)
    gray = np.concatenate([gray, gray])[:64].reshape(8, 8)
    return width, height, gray


def _phash64(gray8x8: np.ndarray) -> int:
    """Average-hash of an 8x8 grayscale block -> 64-bit fingerprint."""
    bits = (gray8x8 > gray8x8.mean()).flatten()
    out = 0
    for bit in bits:
        out = (out << 1) | int(bit)
    return out - (1 << 64) if out >= (1 << 63) else out


def image_features(
    df: DataFrame,
    payload_col: str = "payload",
    url_col: str = "url",
    fake: bool = False,
) -> DataFrame:
    """(url, payload binary) -> IMAGE_FEATURES_SCHEMA via mapInPandas.

    Real path (fake=False) decodes BMP payloads with the pure-NumPy
    codec above; other formats (PNG and JPEG among them) raise
    NotImplementedError — a deployment swaps a PIL / libvips decode
    call into the same batch kernel, the Spark plan is identical.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                if fake:
                    w, h, gray8 = _fake_decode(data)
                elif is_bmp(data):
                    w, h, gray = decode_bmp(data)
                    gray8 = _pool8(gray)
                else:
                    raise NotImplementedError(
                        "image decoding beyond BMP "
                        "requires PIL/libvips (not in this container); "
                        "pass fake=True for the deterministic stub"
                    )
                rows.append(
                    {
                        "url": url,
                        "width": w,
                        "height": h,
                        "n_bytes": len(data),
                        "phash": _phash64(gray8),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["url", "width", "height", "n_bytes", "phash"],
            )

    return df.select(url_col, payload_col).mapInPandas(
        kernel, schema=IMAGE_FEATURES_SCHEMA
    )


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    payload_col: str = "payload",
    url_col: str = "url",
    fake: bool = False,
) -> DataFrame:
    """Binary-in/binary-out transform: (url, payload) -> RESIZED_SCHEMA
    with the payload re-encoded at (target_w, target_h). The shape that
    matters at 100 TB: the output stays an opaque binary column (never a
    driver round-trip), written straight back to a table partition-
    aligned with the input scan — mapInPandas preserves partitioning, so
    no shuffle anywhere.

    Real path (fake=False): BMP in -> nearest-neighbor resample of the
    grayscale plane -> BMP out, all pure NumPy; other formats raise."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                if fake:
                    # deterministic fake re-encode: content-derived bytes
                    # sized proportionally to the target area
                    digest = hashlib.sha256(
                        data + target_w.to_bytes(4, "big")
                        + target_h.to_bytes(4, "big")
                    ).digest()
                    out_len = max(16, (target_w * target_h) // 64)
                    body = (digest * (out_len // len(digest) + 1))[:out_len]
                elif is_bmp(data):
                    _, _, gray = decode_bmp(data)
                    body = encode_bmp(
                        _resample_nearest(gray, target_h, target_w)
                    )
                else:
                    raise NotImplementedError(
                        "resizing beyond BMP requires "
                        "PIL/libvips (not in this container); pass "
                        "fake=True for the deterministic stub"
                    )
                rows.append(
                    {
                        "url": url,
                        "width": target_w,
                        "height": target_h,
                        "payload": body,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["url", "width", "height", "payload"]
            )

    return df.select(url_col, payload_col).mapInPandas(
        kernel, schema=RESIZED_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    every_nth: int = 10,
    n_frames: int = 4,
    payload_col: str = "payload",
    url_col: str = "url",
    fake: bool = False,
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (fan-out
    inside mapInPandas — the batch shape a real ffmpeg kernel would use)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "video decoding requires ffmpeg (not in this container);"
                    " pass fake=True for the deterministic stub"
                )
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                for i in range(n_frames):
                    frame_seed = data + i.to_bytes(4, "big") + bytes(every_nth)
                    _, _, gray = _fake_decode(frame_seed)
                    rows.append(
                        {
                            "url": url,
                            "frame_idx": i * every_nth,
                            "frame_phash": _phash64(gray),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["url", "frame_idx", "frame_phash"]
            )

    return df.select(url_col, payload_col).mapInPandas(
        kernel, schema=FRAME_SAMPLE_SCHEMA
    )
