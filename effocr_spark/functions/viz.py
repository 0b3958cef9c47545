"""Localizer-output visualization: draw detected boxes onto the page
image (the --output_localizer_results debug sink,
infer_effocr_onnx_multi.py:292-305 — full-height/width
clipped rectangles in the scaled-back coordinate frame)."""

from __future__ import annotations

import numpy as np

from ..synth.imgcodec import decode_png, encode_png, to_rgb
from .crops import scale_back_boxes

RED = np.array([255, 0, 0], dtype=np.uint8)


def draw_boxes_png(png_bytes: bytes, boxes_640: np.ndarray,
                   vertical: bool = False) -> bytes:
    """PNG + [N,≥4] letterbox-space boxes → PNG with 1px red rectangles
    at the scaled-back crop windows."""
    img = to_rgb(decode_png(png_bytes)).copy()
    h, w = img.shape[:2]
    wins = scale_back_boxes(np.asarray(boxes_640, dtype=np.float32),
                            h, w, vertical=vertical)
    for x0, y0, x1, y1 in wins:
        x0, y0 = max(int(x0), 0), max(int(y0), 0)
        x1, y1 = min(int(x1), w), min(int(y1), h)
        if x1 <= x0 or y1 <= y0:
            continue
        img[y0, x0:x1] = RED
        img[y1 - 1, x0:x1] = RED
        img[y0:y1, x0] = RED
        img[y0:y1, x1 - 1] = RED
    return encode_png(img)
