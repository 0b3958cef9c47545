"""Line segmentation: page image → per-line strips.

The reference's unit of work is a pre-rendered textline image
(EffOCRInferenceDataset, effocr_datasets/inference_datasets.py:6-20); a
Common-Crawl-style page carries many lines, so this pre-stage cuts a
page into line strips and the unchanged per-line dataflow runs on each
strip (the SURVEY §2.10 `render_page` seam). Pure NumPy; shared by the
Spark path and the oracle as page-level infrastructure (the per-line
OCR semantics remain independently implemented on both sides).

Each strip is the ink row-band plus a fixed white margin, matching the
single-line fixture geometry (synth/font.py MARGIN) so line strips are
pixel-compatible with the prototype index.
"""

from __future__ import annotations

import numpy as np

INK_THRESHOLD = 128
MIN_GAP = 3      # blank-row run that separates lines (fixture gap is 6)
STRIP_MARGIN = 3  # white rows re-added around each band (= font.MARGIN)


def channel_min(img: np.ndarray) -> np.ndarray:
    """H x W x C page → H x W gray plane, the per-pixel minimum over the
    channels (a 2-D plane comes back as is). Elementwise np.minimum over
    the channel slices instead of `img.min(axis=2)`: numpy reduces over
    a 3-long inner axis ~10x slower per element than it runs a binary
    ufunc, and min is exact, so the plane is bit-identical. The one
    channel-min of the OCR path: lineseg's gray twin and the localizer
    head's RGB input both come through here."""
    if img.ndim != 3:
        return img
    gray = img[..., 0]
    for c in range(1, img.shape[2]):
        gray = np.minimum(gray, img[..., c])
    return gray


def segment_lines(gray: np.ndarray) -> list[tuple[int, int]]:
    """→ list of (row_start, row_stop) ink bands, top to bottom.
    Bands separated by >= MIN_GAP blank rows; single-band pages (the
    classic line-image input) come back as one band."""
    ink_rows = (gray < INK_THRESHOLD).any(axis=1)
    bands: list[tuple[int, int]] = []
    start = None
    blank_run = 0
    for i, has_ink in enumerate(ink_rows):
        if has_ink:
            if start is None:
                start = i
            elif blank_run >= MIN_GAP:
                bands.append((start, last_ink + 1))
                start = i
            blank_run = 0
            last_ink = i
        else:
            if start is not None:
                blank_run += 1
    if start is not None:
        bands.append((start, last_ink + 1))
    return bands


def segment_columns(gray: np.ndarray) -> list[tuple[int, int]]:
    """Vertical-text twin: (col_start, col_stop) ink bands, left to
    right (callers reverse for tategaki reading order)."""
    return segment_lines(gray.T)


def column_strip_gray_triples(img: np.ndarray
                              ) -> list[tuple[np.ndarray, np.ndarray, int]]:
    """Vertical page (tategaki) → (column strip, gray strip, page
    x-offset) triples in READING order (right-to-left), each ink
    col-band padded with STRIP_MARGIN white columns — pixel-compatible
    with single-column fixtures. strip-local x + offset = page x (the
    offset accounts for the left padding).

    The GRAYSCALE twin is sliced from ONE page-level `channel_min`
    plane instead of re-reducing every strip downstream (the localizer
    head needs only the gray plane). Channel-min commutes with slicing
    and with the 255 padding, so each twin is bit-identical to
    `channel_min(strip)`."""
    gray = channel_min(img)
    strips = []
    h = img.shape[0]
    gpad = np.full((h, STRIP_MARGIN), 255, dtype=img.dtype)
    for x0, x1 in reversed(segment_columns(gray)):
        band = img[:, x0:x1]
        if img.ndim == 3:
            pad = np.full((h, STRIP_MARGIN, 3), 255, dtype=img.dtype)
        else:
            pad = gpad
        strips.append((np.concatenate([pad, band, pad], axis=1),
                       np.concatenate([gpad, gray[:, x0:x1], gpad], axis=1),
                       x0 - STRIP_MARGIN))
    return strips


def line_strip_gray_triples(img: np.ndarray
                            ) -> list[tuple[np.ndarray, np.ndarray, int]]:
    """Page (H x W [x3]) → (line strip, gray strip, page y-offset)
    triples, each strip the ink band padded with STRIP_MARGIN white rows
    top and bottom. strip-local y + offset = page y. See
    column_strip_gray_triples for the gray twin's bit-parity argument."""
    gray = channel_min(img)
    strips = []
    w = img.shape[1]
    gpad = np.full((STRIP_MARGIN, w), 255, dtype=img.dtype)
    for y0, y1 in segment_lines(gray):
        band = img[y0:y1]
        if img.ndim == 3:
            pad = np.full((STRIP_MARGIN, w, 3), 255, dtype=img.dtype)
        else:
            pad = gpad
        strips.append((np.concatenate([pad, band, pad], axis=0),
                       np.concatenate([gpad, gray[y0:y1], gpad], axis=0),
                       y0 - STRIP_MARGIN))
    return strips


def column_strips(img: np.ndarray) -> list[np.ndarray]:
    """The column strips alone (oracle-shared API)."""
    return [s for s, _g, _off in column_strip_gray_triples(img)]


def line_strips(img: np.ndarray) -> list[np.ndarray]:
    """The line strips alone (oracle-shared API)."""
    return [s for s, _g, _off in line_strip_gray_triples(img)]
