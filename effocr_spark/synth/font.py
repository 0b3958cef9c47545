"""Deterministic bitmap font + text-line renderer (fixture generation).

Reference analog: glyph rendering with PIL TTF fonts
(format_effocr_recognizer_dataset.py:131-185). The
container has no font stack, so glyphs are seeded pseudo-random bitmaps
with *realistic metrics* (x-height lowercase, full-height caps/digits,
descenders), which is what the extraction pipeline's casing heuristics
(en_postprocess, infer_effocr_onnx_multi.py:110-129) key on.

Determinism contract: every bitmap is a pure function of
(GLYPH_SEED, codepoint); every rendered line is a pure function of
(text, vertical). No wall-clock, no global RNG.
"""

from __future__ import annotations

import numpy as np

GLYPH_SEED = 1337

# line canvas metrics (pixels, pre-letterbox)
ASCENT = 9        # rows 0..8: caps/digits occupy all of these
BASELINE = 9      # first row below the glyph body
DESCENT = 3       # rows 9..11: descender territory
LINE_H = ASCENT + DESCENT  # 12

CHAR_GAP = 2      # blank columns between chars within a word
WORD_GAP = 8      # blank columns between words (detector threshold ~5)
MARGIN = 3        # blank border around the line
LINE_GAP = 6      # blank rows between lines on multi-line pages

_DESCENDERS = set("gjpqy")
_TALL_LOWER = set("bdfhklt")  # full-height lowercase
_PUNCT_BOXES = {
    # char: (width, top_row, bottom_row_exclusive)  — fully inked boxes
    ".": (2, 7, 9),
    ",": (2, 7, 11),
    "-": (4, 4, 6),
    "'": (2, 0, 3),
    "!": (2, 0, 9),
    "?": (4, 0, 9),
    ":": (2, 2, 9),
    ";": (2, 2, 11),
    "(": (3, 0, 11),
    ")": (3, 0, 11),
    "&": (6, 0, 9),
    "/": (4, 0, 9),
}

EN_CHARSET = (
    "abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789" + "".join(_PUNCT_BOXES)
)
JP_CHARSET = "あいうえおかきくけこさしすせそたちつてと"


def glyph_metrics(ch: str) -> tuple[int, int, int]:
    """→ (width, top_row, bottom_row_exclusive) of the glyph's ink box."""
    if ch in _PUNCT_BOXES:
        return _PUNCT_BOXES[ch]
    if ch in JP_CHARSET:
        return 8, 0, ASCENT
    if ch.isupper() or ch.isdigit():
        return 6, 0, ASCENT
    if ch in _TALL_LOWER:
        return 5, 0, ASCENT
    if ch in _DESCENDERS:
        return 5, 3, ASCENT + DESCENT
    return 5, 3, ASCENT  # x-height lowercase


def glyph_bitmap(ch: str) -> np.ndarray:
    """Seeded ink mask for one glyph: (LINE_H, width) bool array.

    Pure function of (GLYPH_SEED, codepoint). Every column of the ink box
    is guaranteed non-blank (so projection-profile segmentation never
    splits a glyph) and every glyph's edge columns carry ink (tight box).
    """
    w, top, bot = glyph_metrics(ch)
    if ch in _PUNCT_BOXES:
        mask = np.zeros((LINE_H, w), dtype=bool)
        mask[top:bot, :] = True
        return mask
    rng = np.random.RandomState((GLYPH_SEED * 1000003 + ord(ch)) % (2**31))
    mask = np.zeros((LINE_H, w), dtype=bool)
    body = rng.random_sample((bot - top, w)) < 0.55
    body[-1, :] = True        # contiguous bottom row: no blank columns
    body[0, 0] = True         # top-left anchor: tight top edge
    mask[top:bot, :] = body
    return mask


def render_line(text: str, vertical: bool = False):
    """Render a text line → (img uint8 HxW white-bg, char_boxes, word_boxes).

    Boxes are (x0, y0, x1, y1) pixel coords in the rendered image,
    exclusive right/bottom. Horizontal: chars advance in x, spaces become
    WORD_GAP. Vertical (jp): chars stack in y; no word boxes.
    """
    glyphs = []
    for ch in text:
        if ch == " ":
            glyphs.append((None, WORD_GAP))
        else:
            bm = glyph_bitmap(ch)
            glyphs.append((ch, bm))

    if not vertical:
        # layout pass
        x = MARGIN
        char_boxes, word_boxes = [], []
        placed = []  # (x, bitmap)
        word_start = None
        last_end = None

        def close_word(upto_x):
            nonlocal word_start
            if word_start is not None:
                word_boxes.append((word_start, MARGIN, upto_x, MARGIN + LINE_H))
                word_start = None

        for item in glyphs:
            if item[0] is None:
                close_word(last_end)
                x += WORD_GAP - CHAR_GAP  # gap replaces the trailing CHAR_GAP
                continue
            ch, bm = item
            w = bm.shape[1]
            _, top, bot = glyph_metrics(ch)
            placed.append((x, bm))
            char_boxes.append((x, MARGIN + top, x + w, MARGIN + bot))
            if word_start is None:
                word_start = x
            last_end = x + w
            x += w + CHAR_GAP
        close_word(last_end)
        width = (last_end if last_end is not None else MARGIN) + MARGIN
        img = np.full((LINE_H + 2 * MARGIN, width), 255, dtype=np.uint8)
        for x0, bm in placed:
            region = img[MARGIN : MARGIN + LINE_H, x0 : x0 + bm.shape[1]]
            region[bm] = 0
        return img, char_boxes, word_boxes

    # vertical: stack in y, fixed column width, no word semantics
    return _render_vertical(glyphs, text)


def render_page(lines: list[str]):
    """Render a multi-line page: each line via render_line, stacked with
    LINE_GAP blank rows, left-aligned on a common-width white canvas.
    → uint8 HxW image."""
    rendered = [render_line(t)[0] for t in lines]
    width = max(r.shape[1] for r in rendered)
    rows = []
    for i, r in enumerate(rendered):
        if r.shape[1] < width:
            pad = np.full((r.shape[0], width - r.shape[1]), 255, dtype=np.uint8)
            r = np.concatenate([r, pad], axis=1)
        # render_line carries MARGIN top+bottom = 6 rows between bands
        rows.append(r)
    return np.concatenate(rows, axis=0)


def render_page_vertical(columns: list[str]):
    """Render a multi-column vertical (tategaki) page: columns[0] is the
    FIRST column in reading order = the RIGHTMOST on the canvas.
    → uint8 HxW image."""
    rendered = [render_line(t, vertical=True)[0] for t in columns]
    height = max(r.shape[0] for r in rendered)
    cols = []
    for r in reversed(rendered):  # rightmost first in reading order
        if r.shape[0] < height:
            pad = np.full((height - r.shape[0], r.shape[1]), 255,
                          dtype=np.uint8)
            r = np.concatenate([r, pad], axis=0)
        cols.append(r)
    return np.concatenate(cols, axis=1)


def _render_vertical(glyphs, text):
    y = MARGIN
    char_boxes = []
    placed = []
    col_w = max((glyph_metrics(ch)[0] for ch in text if ch != " "), default=8)
    for item in glyphs:
        if item[0] is None:
            y += WORD_GAP - CHAR_GAP
            continue
        ch, bm = item
        _, top, bot = glyph_metrics(ch)
        ink = bm[top:bot]  # tight ink rows only (stacking uses ink extent)
        h, w = ink.shape
        xoff = MARGIN + (col_w - w) // 2
        placed.append((y, xoff, ink))
        char_boxes.append((xoff, y, xoff + w, y + h))
        y += h + CHAR_GAP
    height = (y - CHAR_GAP + MARGIN) if placed else 2 * MARGIN
    img = np.full((height, col_w + 2 * MARGIN), 255, dtype=np.uint8)
    for y0, x0, ink in placed:
        region = img[y0 : y0 + ink.shape[0], x0 : x0 + ink.shape[1]]
        region[ink] = 0
    return img, char_boxes, []
