import struct
import zlib

import numpy as np
import pytest

from effocr_spark.synth.imgcodec import (_PNG_SIG, _chunk, decode_png,
                                        encode_png, is_png, to_rgb)


def test_roundtrip_gray():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(23, 41), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_roundtrip_rgb():
    rng = np.random.RandomState(8)
    img = rng.randint(0, 256, size=(17, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_encode_deterministic():
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    assert encode_png(img) == encode_png(img.copy())


def test_is_png_sniff():
    img = np.zeros((4, 4), dtype=np.uint8)
    assert is_png(encode_png(img))
    assert not is_png(b"<html><body>hi</body></html>")
    assert not is_png(b"")


def test_to_rgb():
    g = np.array([[0, 255]], dtype=np.uint8)
    rgb = to_rgb(g)
    assert rgb.shape == (1, 2, 3)
    assert np.array_equal(rgb[:, :, 0], g)


def test_reject_garbage():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def _filter_rows(raw: np.ndarray, bpp: int) -> bytes:
    """PNG-filter each row of `raw` (h x stride uint8) with filter type
    y mod 5 — None, Sub, Up, Average, Paeth — straight from the PNG
    spec's formulas (section 9), prefixing each row with its type."""
    out = bytearray()
    h, stride = raw.shape
    for y in range(h):
        ftype = y % 5
        out.append(ftype)
        for x in range(stride):
            a = int(raw[y, x - bpp]) if x >= bpp else 0
            b = int(raw[y - 1, x]) if y else 0
            c = int(raw[y - 1, x - bpp]) if y and x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out.append((int(raw[y, x]) - pred) & 0xFF)
    return bytes(out)


@pytest.mark.parametrize("shape", [(13, 11), (12, 7, 3)])
def test_decode_all_five_filters_mixed_rows(shape):
    """Rows cycling through filters 0-4 (runs of one row each, so every
    filter follows every other) decode back to the source pixels —
    encode_png itself only writes filter 0."""
    rng = np.random.RandomState(sum(shape))
    img = rng.randint(0, 256, size=shape).astype(np.uint8)
    img[3:5] = 255  # flat rows: Paeth/Average ties and Up wraps
    h, w = shape[:2]
    channels = 1 if len(shape) == 2 else 3
    raw = img.reshape(h, w * channels)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if channels == 1 else 2,
                       0, 0, 0)
    png = (_PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(_filter_rows(raw, channels)))
           + _chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)
