"""Minimal deterministic PNG codec (stdlib zlib only).

The container has no PIL/cv2, so image pages in the synthetic `pages`
table are encoded/decoded with this codec. Only what the pipeline needs:
8-bit RGB and 8-bit grayscale, all five standard PNG row filters on
decode, filter-0 on encode (deterministic bytes for a given array).

Replaces the reference's `Image.open(path).convert("RGB")`
(infer_effocr_onnx_multi.py:307) at the UDF boundary.

Decode inflates IDAT only up to the size the IHDR implies (h rows of
1 + stride bytes) and raises ValueError when more data remains or the
data is short, so a tiny PNG cannot inflate to gigabytes. Unfiltering
copies the whole image once (which decodes every filter-0 row), then
redoes Up and Sub rows in uint8 array arithmetic and Average and Paeth
rows per pixel.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode HxW (gray) or HxWx3 (RGB) uint8 array to PNG bytes."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color_type, channels = 0, 1
        h, w = img.shape
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
        h, w = img.shape[:2]
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = img.reshape(h, w * channels)
    # filter byte 0 per row
    scanlines = b"".join(b"\x00" + raw[y].tobytes() for y in range(h))
    idat = zlib.compress(scanlines, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(data: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo the PNG row filters (also the PDF /Predictor ≥ 10 path):
    `data` is h rows of one filter-type byte + `stride` bytes, `bpp`
    the byte distance to the pixel on the left. Every row starts as
    its raw bytes — one copy, which already decodes every filter-0
    row — then the filtered rows are redone in order: Up and Sub in
    uint8 array arithmetic (mod 256), Average and Paeth per pixel."""
    rows = data.reshape(h, stride + 1)
    ftypes = rows[:, 0]
    out = rows[:, 1:].copy()
    if (ftypes > 4).any():
        raise ValueError(f"bad PNG filter {ftypes[ftypes > 4][0]}")
    zero = np.zeros(stride, np.uint8)
    for y in np.flatnonzero(ftypes).tolist():
        ftype = ftypes[y]
        prev = out[y - 1] if y > 0 else zero
        if ftype == 2:  # Up
            out[y] += prev
        elif ftype == 1:  # Sub: running sum per byte lane, mod 256
            lanes = np.zeros(-(-stride // bpp) * bpp, np.uint8)
            lanes[:stride] = out[y]
            out[y] = np.cumsum(lanes.reshape(-1, bpp), axis=0,
                               dtype=np.uint8).ravel()[:stride]
        else:
            cur, up, line = out[y].tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = up[x]
                if ftype == 3:  # Average
                    pred = (a + b) // 2
                else:  # Paeth
                    c = up[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (cur[x] + pred) & 0xFF
            out[y] = line
    return out


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes → HxW (gray) or HxWx3 (RGB) uint8 array."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    color_type = bit_depth = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if bit_depth != 8 or interlace != 0 or color_type not in (0, 2):
                raise ValueError("unsupported PNG variant")
            if w <= 0 or h <= 0 or w * h > 100_000_000:
                # allocation bomb guard: crafted IHDR dims quarantine
                # the row, never OOM the executor
                raise ValueError("implausible PNG dimensions")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    channels = 3 if color_type == 2 else 1
    stride = w * channels
    # inflate no further than the image needs: a crafted IDAT that
    # inflates to gigabytes under a tiny IHDR quarantines the row
    # after at most one byte past the expected size
    size = h * (stride + 1)
    inflater = zlib.decompressobj()
    raw = inflater.decompress(idat, size)
    if inflater.unconsumed_tail and inflater.decompress(
            inflater.unconsumed_tail, 1):
        raise ValueError("PNG image data exceeds its IHDR size")
    if len(raw) < size:
        raise ValueError("PNG image data is short")
    out = _unfilter(np.frombuffer(raw, np.uint8), h, stride, channels)
    if channels == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, 3)


def is_png(data: bytes) -> bool:
    """Content-type sniff used to route pages to the OCR branch."""
    return data[:8] == _PNG_SIG


def to_rgb(img: np.ndarray) -> np.ndarray:
    """Gray→RGB expansion, mirroring `.convert('RGB')` semantics."""
    if img.ndim == 2:
        return np.repeat(img[:, :, None], 3, axis=2)
    return img
