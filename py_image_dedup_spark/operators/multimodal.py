"""Multimodal columns: binary payloads + typed metadata.

A training-data pipeline at 100 TB carries images/audio/video as opaque
`binary` columns beside typed metadata, and decodes only inside Arrow
batches at the last moment. The Spark-side plumbing here — schemas,
mapInPandas batch shape, partition sizing — is real and tested, and so
are these REAL pure-NumPy codecs (no external libraries needed):

  * BMP  — uncompressed 24/32-bit BI_RGB, decode + encode
           (image_features and resize_images run end-to-end on real bytes)
  * PNG  — 8-bit non-interlaced gray/RGB/RGBA, decode (stdlib zlib inflate
           + all five scanline filters in NumPy) + encode (filter 0)
  * WAV  — RIFF/WAVE PCM 8/16-bit, decode + encode
           (audio_features runs end-to-end on real bytes)
  * MP3  — frame-header metadata WITHOUT decode (parse_mp3_meta: exact
           CBR/VBR duration by counting frames, rate/channels/bitrate) —
           the audio_meta ingest scan

Sample DECODE of compressed audio (MP3/OGG) and video containers needs
soundfile/ffmpeg, which are not in this container: those kernels raise
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

AUDIO_FEATURES_SCHEMA = (
    "url string, n_bytes long, duration_s double, sample_rate int, "
    "loudness_fp long"
)

AUDIO_META_SCHEMA = (
    "url string, n_bytes long, container string, duration_s double, "
    "sample_rate int, channels int, bitrate_kbps int"
)

RESIZED_SCHEMA = "url string, width int, height int, payload binary"


# ------------------------------------------------------- real codecs (NumPy)

def is_bmp(data: bytes) -> bool:
    return len(data) >= 54 and data[:2] == b"BM"


def is_wav(data: bytes) -> bool:
    return len(data) >= 44 and data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def is_mp3(data: bytes) -> bool:
    """ID3v2-tagged file, or raw MPEG audio starting on a frame sync."""
    if len(data) < 4:
        return False
    if data[:3] == b"ID3":
        return True
    return data[0] == 0xFF and (data[1] & 0xE0) == 0xE0


# MPEG audio frame-header tables (ISO/IEC 11172-3 / 13818-3; the public
# constants every MP3 tool ships). Indexed [version][layer]; bitrates kbps.
_MP3_BITRATES = {
    # MPEG1: layer 1, 2, 3
    1: {
        1: (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
        2: (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
        3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    },
    # MPEG2 / 2.5 share one table for layer 2+3 and one for layer 1
    2: {
        1: (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
        2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
        3: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    },
}
_MP3_RATES = {  # by version bits (00=2.5, 10=2, 11=1)
    0: (11025, 12000, 8000),
    2: (22050, 24000, 16000),
    3: (44100, 48000, 32000),
}


def _mp3_frame(data: bytes, pos: int):
    """Parse one MPEG audio frame header at pos -> (frame_len, samples,
    rate, bitrate_kbps, channels) or None if not a valid frame start."""
    if pos + 4 > len(data):
        return None
    b1, b2, b3 = data[pos], data[pos + 1], data[pos + 2]
    if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
        return None
    vbits = (b2 >> 3) & 3
    layer = 4 - ((b2 >> 1) & 3)  # bits 01->layer III(3), 11->layer I(1)
    if vbits == 1 or layer == 4:  # reserved version / reserved layer
        return None
    br_idx = (b3 >> 4) & 15
    sr_idx = (b3 >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:  # free/bad bitrate, bad rate
        return None
    ver = 1 if vbits == 3 else 2
    bitrate = _MP3_BITRATES[ver][layer][br_idx]
    rate = _MP3_RATES[vbits][sr_idx]
    pad = (b3 >> 1) & 1
    channels = 1 if ((data[pos + 3] >> 6) & 3) == 3 else 2
    if layer == 1:
        samples = 384
        frame_len = (12 * bitrate * 1000 // rate + pad) * 4
    else:
        samples = 1152 if (layer == 2 or ver == 1) else 576
        frame_len = samples // 8 * bitrate * 1000 // rate + pad
    if frame_len <= 4:
        return None
    return frame_len, samples, rate, bitrate, channels


def parse_mp3_meta(data: bytes) -> dict:
    """MPEG audio metadata WITHOUT decoding (the duration/rate scan a
    curation pipeline runs at ingest): skip any ID3v2 tag, find the first
    frame sync that chains to a second valid frame, then hop frame headers
    to the end. Duration is exact for CBR and VBR alike (frames counted,
    no Xing header needed; a Xing-less VBR estimate from the first frame's
    bitrate would be wrong by up to 2x). O(n_frames) header reads, zero
    sample decode.

    Returns {sample_rate, channels, bitrate_kbps (mean over frames),
    duration_s, n_frames, xing_frames, xing_bytes, xing_duration_s};
    raises ValueError when no frame chain exists. The xing_* fields come
    from a Xing/Info VBR header when the first frame carries one (frame
    count + byte count a streaming reader can turn into a duration
    estimate from the FIRST frame alone, without walking the file);
    they are None otherwise. duration_s is always the exact frame-walk
    figure — the Xing fields are the cheap estimate, not the truth.
    """
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = (
            (data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7 | (data[9] & 0x7F)
        )
        pos = 10 + size
    # resync: the first candidate must chain into a second valid frame,
    # or 0xFF bytes inside tag padding would parse as garbage audio
    start = None
    scan_limit = min(len(data), pos + 65536)
    while pos < scan_limit:
        fr = _mp3_frame(data, pos)
        if fr is not None:
            nxt = pos + fr[0]
            if nxt >= len(data) or _mp3_frame(data, nxt) is not None:
                start = pos
                break
        pos += 1
    if start is None:
        raise ValueError("no MPEG audio frame chain found")
    xing = _parse_xing(data, start)
    n_frames = 0
    total_samples = 0
    total_kbps = 0
    rate = channels = 0
    pos = start
    while pos + 4 <= len(data):
        fr = _mp3_frame(data, pos)
        if fr is None:
            break  # trailing tag (ID3v1/APE) or truncation
        frame_len, samples, rate, kbps, channels = fr
        n_frames += 1
        total_samples += samples
        total_kbps += kbps
        pos += frame_len
    first = _mp3_frame(data, start)
    xing_duration = (
        round(xing["frames"] * first[1] / first[2], 6)
        if xing and xing["frames"] is not None else None
    )
    return {
        "sample_rate": rate,
        "channels": channels,
        "bitrate_kbps": round(total_kbps / n_frames),
        "duration_s": round(total_samples / rate, 6),
        "n_frames": n_frames,
        "xing_frames": xing["frames"] if xing else None,
        "xing_bytes": xing["bytes"] if xing else None,
        "xing_duration_s": xing_duration,
    }


def _parse_xing(data: bytes, start: int):
    """Xing/Info VBR header inside the frame at start -> {frames, bytes}
    or None. The tag sits after the side-info block whose size depends on
    version/mode (and a 2-byte CRC when protection is on); flags are a
    big-endian bitmask: 1=frames, 2=bytes (TOC/quality follow, unread)."""
    fr = _mp3_frame(data, start)
    if fr is None:
        return None
    b2 = data[start + 1]
    vbits = (b2 >> 3) & 3
    mono = ((data[start + 3] >> 6) & 3) == 3
    side = (17 if mono else 32) if vbits == 3 else (9 if mono else 17)
    pos = start + 4 + (0 if (b2 & 1) else 2) + side
    if data[pos:pos + 4] not in (b"Xing", b"Info"):
        return None
    flags = int.from_bytes(data[pos + 4:pos + 8], "big")
    pos += 8
    out = {"frames": None, "bytes": None}
    if flags & 1 and pos + 4 <= len(data):
        out["frames"] = int.from_bytes(data[pos:pos + 4], "big")
        pos += 4
    if flags & 2 and pos + 4 <= len(data):
        out["bytes"] = int.from_bytes(data[pos:pos + 4], "big")
    return out


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


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def is_png(data: bytes) -> bool:
    return len(data) > 8 and data[:8] == PNG_SIG


def decode_png(data: bytes) -> tuple[int, int, np.ndarray]:
    """8-bit non-interlaced PNG (gray / gray+alpha / RGB / RGBA) ->
    (width, height, gray float64 (h, w)). Pure stdlib zlib + NumPy: chunk
    walk, one inflate, then scanline unfiltering (all five PNG filter
    types; Up is vectorized, Sub/Average/Paeth run their spec-mandated
    sequential recurrences per row)."""
    import zlib

    if not is_png(data):
        raise ValueError("not a PNG payload")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(data):
        (size,) = struct.unpack_from(">I", data, pos)
        cid = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 12 + size  # len + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if (depth != 8 or comp != 0 or filt != 0 or interlace != 0
            or ctype not in (0, 2, 4, 6) or w < 1 or h < 1):
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={ctype}, "
            f"interlace={interlace})"
        )
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    rpos = 0
    for y in range(h):
        ftype = raw[rpos]
        row = np.frombuffer(raw, np.uint8, stride, rpos + 1).copy()
        rpos += stride + 1
        if ftype == 0:
            pass
        elif ftype == 2:  # Up — no intra-row dependency, vectorized
            row += prev
        elif ftype == 1:  # Sub (mod-256 per spec; int math avoids
            for i in range(ch, stride):  # numpy scalar-overflow warnings)
                row[i] = (int(row[i]) + int(row[i - ch])) & 0xFF
        elif ftype == 3:  # Average: floor((left + up) / 2), uint8 wrap
            for i in range(stride):
                left = int(row[i - ch]) if i >= ch else 0
                row[i] = (int(row[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth predictor
            for i in range(stride):
                a = int(row[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = row
        prev = row
    px = out.reshape(h, w, ch).astype(np.float64)
    rgb = px[:, :, :3] if ch >= 3 else np.repeat(px[:, :, :1], 3, axis=2)
    # same equal-weight gray as decode_bmp, so phash is format-agnostic
    return w, h, rgb.mean(axis=2)


def encode_png(gray_or_rgb: np.ndarray) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 -> 8-bit RGB PNG (filter 0)."""
    import zlib

    a = np.asarray(gray_or_rgb)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    a = np.clip(a, 0, 255).astype(np.uint8)
    h, w, _ = a.shape
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """RIFF/WAVE PCM (8-bit unsigned / 16-bit signed) -> (sample_rate,
    n_channels, mono float64 samples in [-1, 1]). Iterates RIFF chunks —
    tolerant of LIST/fact chunks before data."""
    if not is_wav(data):
        raise ValueError("not a WAV payload")
    pos, fmt, payload = 12, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            payload = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or payload is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or bits not in (8, 16) or channels < 1 or rate < 1:
        # rate==0 must be rejected HERE: audio_meta divides by it, and a
        # ZeroDivisionError is not in its tolerated-exception tuple — one
        # malformed payload would fail the whole Arrow batch (ADVICE r5)
        raise ValueError(
            f"unsupported WAV (format={audio_format}, bits={bits}, "
            f"rate={rate})"
        )
    if bits == 16:
        x = np.frombuffer(
            payload, dtype="<i2", count=len(payload) // 2
        ).astype(np.float64) / 32768.0
    else:
        x = (np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    n = (len(x) // channels) * channels
    mono = x[:n].reshape(-1, channels).mean(axis=1)
    return rate, channels, mono


def encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Mono float samples in [-1, 1] -> 16-bit PCM WAV bytes."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    body = (pcm * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    out = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(body)) + body)
    return out


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

    Real path (fake=False) decodes BMP and PNG payloads with the
    pure-NumPy codecs above; other formats (JPEG among them) raise
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
                elif is_png(data):
                    w, h, gray = decode_png(data)
                    gray8 = _pool8(gray)
                else:
                    raise NotImplementedError(
                        "image decoding beyond BMP/PNG "
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


def audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    url_col: str = "url",
    fake: bool = False,
) -> DataFrame:
    """(url, payload binary) -> AUDIO_FEATURES_SCHEMA via mapInPandas:
    duration/sample-rate metadata plus a 64-bit loudness-envelope
    fingerprint (the audio analog of phash — near-dup audio detection
    joins on it exactly like the LSH band tables).

    Real path (fake=False) decodes RIFF/WAVE PCM payloads with the
    pure-NumPy codec above: loudness_fp = phash of the |sample| envelope
    pooled to 8x8. Other formats raise (MP3/OGG need soundfile/ffmpeg —
    swap the decode call inside the same batch kernel)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                if fake:
                    digest = hashlib.sha256(b"audio:" + data).digest()
                    sample_rate = (8000, 16000, 22050, 44100)[digest[0] % 4]
                    duration = round(0.5 + digest[1] / 8.0, 3)
                    _, _, env = _fake_decode(b"env:" + data)
                elif is_wav(data):
                    sample_rate, _, mono = decode_wav(data)
                    duration = round(len(mono) / sample_rate, 6)
                    a = np.abs(mono)
                    if len(a) >= 64:  # 64 equal time segments, mean |x|
                        a = a[: (len(a) // 64) * 64].reshape(64, -1).mean(axis=1)
                    else:
                        a = np.resize(a, 64) if len(a) else np.zeros(64)
                    env = a.reshape(8, 8)
                else:
                    raise NotImplementedError(
                        "audio decoding beyond PCM WAV requires "
                        "soundfile/ffmpeg (not in this container); pass "
                        "fake=True for the deterministic stub"
                    )
                rows.append(
                    {
                        "url": url,
                        "n_bytes": len(data),
                        "duration_s": duration,
                        "sample_rate": sample_rate,
                        "loudness_fp": _phash64(env),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "n_bytes", "duration_s", "sample_rate",
                    "loudness_fp",
                ],
            )

    return df.select(url_col, payload_col).mapInPandas(
        kernel, schema=AUDIO_FEATURES_SCHEMA
    )


def audio_meta(
    df: DataFrame,
    payload_col: str = "payload",
    url_col: str = "url",
) -> DataFrame:
    """(url, payload binary) -> AUDIO_META_SCHEMA via mapInPandas: the
    metadata-only ingest scan — container, duration, rate, channels,
    bitrate — WITHOUT decoding samples. WAV reads the fmt/data headers;
    MP3 hops MPEG frame headers (parse_mp3_meta: exact duration for CBR
    and VBR, no Xing header needed). Unknown containers classify as
    'unknown' with null metadata instead of raising: a 100 TB metadata
    sweep must tolerate stray payloads, and the container column is how a
    pipeline routes/filters them."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "url", "n_bytes", "container", "duration_s", "sample_rate",
            "channels", "bitrate_kbps",
        ]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                row = {
                    "url": url, "n_bytes": len(data), "container": "unknown",
                    "duration_s": None, "sample_rate": None,
                    "channels": None, "bitrate_kbps": None,
                }
                try:
                    if is_wav(data):
                        rate, n_ch, mono = decode_wav(data)
                        # a valid header with an empty/tiny data chunk
                        # (crawl-truncated payload) has no meaningful
                        # bitrate — and dividing by ~0 overflows the
                        # Int32 output column, which would fail the whole
                        # Arrow batch, not just this row
                        dur = len(mono) / rate
                        kbps = round(len(data) * 8 / 1000 / dur) if dur > 0 \
                            else None
                        if kbps is not None and kbps > 2**31 - 1:
                            kbps = None
                        row.update(
                            container="wav",
                            duration_s=round(dur, 6),
                            sample_rate=rate, channels=n_ch,
                            bitrate_kbps=kbps,
                        )
                    elif is_mp3(data):
                        m = parse_mp3_meta(data)
                        row.update(
                            container="mp3",
                            duration_s=m["duration_s"],
                            sample_rate=m["sample_rate"],
                            channels=m["channels"],
                            bitrate_kbps=m["bitrate_kbps"],
                        )
                except (ValueError, NotImplementedError, struct.error):
                    pass  # classified by magic but malformed: keep 'unknown'
                rows.append(row)
            out = pd.DataFrame(rows, columns=cols)
            out["duration_s"] = out["duration_s"].astype("Float64")
            for c in ("sample_rate", "channels", "bitrate_kbps"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.select(url_col, payload_col).mapInPandas(
        kernel, schema=AUDIO_META_SCHEMA
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

    Real path (fake=False): BMP or PNG in -> nearest-neighbor resample
    of the grayscale plane -> the same format out, all pure NumPy; other
    formats raise."""

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
                elif is_png(data):
                    _, _, gray = decode_png(data)
                    body = encode_png(
                        _resample_nearest(gray, target_h, target_w)
                    )
                else:
                    raise NotImplementedError(
                        "resizing beyond BMP/PNG requires "
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
