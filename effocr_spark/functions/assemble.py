"""Line-assembly kernels: reading-order sort, word-boundary as-of join,
space insertion, anchor-based casing correction.

Faithful NumPy reimplementation of the reference's en/jp pre/postprocess
(infer_effocr_onnx_multi.py:70-140), including its edge
quirks (carry-forward closest_idx when a word has no qualifying char;
None output when a line has chars but no word boxes). The plain-Python
oracle (effocr_spark.oracle) transliterates the same reference lines
independently; tests assert agreement.
"""

from __future__ import annotations

import numpy as np

LARGE_NUMBER = 1_000_000_000  # infer_effocr_onnx_multi.py:46

DISTINCT_LOWERCASE = set("aenr")          # spell_check_utils.py:60-61
NONDISTINCT_LOWERCASE = set("wuosvcxz")   # spell_check_utils.py:64-65


def en_preprocess(char_boxes: np.ndarray, word_boxes: np.ndarray,
                  vertical: bool = False):
    """Sort char boxes in reading order and compute word-end indices.

    → (sorted_char_boxes [N,≥4], word_end_idx list[int]).
    word_end_idx[k] = index (into sorted chars) of the char whose right
    edge is nearest to word k's left edge among chars strictly right of
    it; if none qualifies, the previous word's index carries forward
    (closest_idx initialized once, infer_effocr_onnx_multi.py:76-86).
    """
    key = 1 if vertical else 0
    char_order = np.argsort(char_boxes[:, key], kind="stable")
    sorted_chars = char_boxes[char_order]
    word_order = np.argsort(word_boxes[:, key], kind="stable") if word_boxes.size else np.zeros(0, np.int64)
    sorted_words = word_boxes[word_order] if word_boxes.size else word_boxes.reshape(0, 4)

    char_rights = sorted_chars[:, 2]
    word_end_idx: list[int] = []
    closest_idx = 0
    for wordleft in (sorted_words[:, 0] if sorted_words.size else []):
        dist = np.abs(wordleft - char_rights)
        qualify = char_rights > wordleft
        if qualify.any():
            masked = np.where(qualify, dist, np.inf)
            # np.argmin ties → lowest index, same as the reference's
            # strict `dist < prev_dist` scan
            closest_idx = int(np.argmin(masked))
        word_end_idx.append(closest_idx)
    return sorted_chars, word_end_idx


def jp_preprocess(char_boxes: np.ndarray, vertical: bool = True) -> np.ndarray:
    """Reading-order sort only (infer_effocr_onnx_multi.py:134-140)."""
    key = 1 if vertical else 0
    return char_boxes[np.argsort(char_boxes[:, key], kind="stable")]


def en_postprocess(line_output: str, word_end_idx: list[int],
                   charheights: list[float], charbottoms: list[float],
                   anchor_margin: float | None = None,
                   anchor_multiplier: float = 4) -> str | None:
    """Space insertion + anchor-height casing correction
    (infer_effocr_onnx_multi.py:92-131). Returns None for degenerate
    lines (any empty input list — including "chars but no words").
    """
    if len(line_output) != len(charheights) or len(line_output) != len(charbottoms):
        return None  # arity violation: quarantine instead of assert-crash
    if any(len(x) == 0 for x in (line_output, word_end_idx, charheights, charbottoms)):
        return None

    we = set(word_end_idx)
    out_chars: list[str] = []
    heights: list[float] = []
    bottoms: list[float] = []
    for idx, ch in enumerate(line_output):
        if idx in we:
            out_chars.append(" " + ch)
            heights.extend((LARGE_NUMBER, charheights[idx]))
            bottoms.extend((0, charbottoms[idx]))
        else:
            out_chars.append(ch)
            heights.append(charheights[idx])
            bottoms.append(charbottoms[idx])
    if bottoms and bottoms[0] == 0:
        bottoms = bottoms[1:]
    if heights and heights[0] == LARGE_NUMBER:
        heights = heights[1:]

    line = "".join(out_chars).strip()
    if len(heights) != len(line):
        return None  # arity violation post-insertion: quarantine

    lower_idx = [i for i, c in enumerate(line) if c in DISTINCT_LOWERCASE]
    if len(lower_idx) > 0 and anchor_margin is not None:
        hs = np.asarray(heights, dtype=np.float64)
        bs = np.asarray(bottoms, dtype=np.float64)
        avg_h = float(hs[lower_idx].mean())
        avg_b = float(bs[lower_idx].mean())
        tolower = np.abs(hs - avg_h) < anchor_margin * avg_h
        toupper = (hs - avg_h) > anchor_margin * anchor_multiplier * avg_h
        toperiod = np.abs(bs - avg_b) < anchor_margin * avg_h
        chars = list(line)
        chars = [c.lower() if tolower[i] else c for i, c in enumerate(chars)]
        chars = [
            c.upper() if toupper[i] and c in NONDISTINCT_LOWERCASE else c
            for i, c in enumerate(chars)
        ]
        chars = ["." if (c == "-" and toperiod[i]) else c for i, c in enumerate(chars)]
        line = "".join(chars)

    return line


def silver_correct(text: str | None, word_preds: list[str],
                   word_sims: list[float], threshold: float,
                   word_end_idx: list[int] | None = None
                   ) -> tuple[str | None, int]:
    """Silver-correction merge of the char and word streams (the
    north-star's two-stream design; the paper's word-level EffOCR uses
    word recognition where the word recognizer is confident, char
    assembly elsewhere).

    Alignment contract: en_postprocess inserts one space per distinct
    word_end_idx, and word crops are embedded in the same left-sorted
    order en_preprocess derived those indices from. If the first word
    box starts the line (word_end_idx[0] == 0) the inserted leading
    space is stripped and word k ↔ token k; otherwise a prefix token
    precedes the first word box and word k ↔ token k+1. When the
    correspondence is broken (duplicate/collapsed word starts, token
    count drift through postprocess), the merge is SKIPPED for the line
    rather than mis-aligned: char assembly is the fallback stream by
    construction.

    Replaces the aligned token with word_preds[k] when sim ≥ threshold
    and the streams disagree (case-insensitively; the word bank is
    lowercase, so a capitalized char token keeps its capitalization).
    → (text, n_replaced).

    Threshold guidance (measured in the synthetic embedding space):
    out-of-vocabulary words still reach ~0.92 cosine against their
    nearest bank entry, while true in-vocabulary matches — even with a
    damaged glyph — score ≥0.98; τ = 0.95 separates them. Silver
    correction is a HIGH-PRECISION dial: a too-low τ rewrites OOV words
    into vocabulary, which is worse than any char-stream error."""
    if text is None or not word_preds:
        return text, 0
    if word_end_idx is not None:
        we = list(word_end_idx)
        if len(set(we)) != len(we):
            return text, 0  # collapsed word starts: alignment lost
        offset = 1 if (we and we[0] > 0) else 0
    else:
        offset = 1
    tokens = text.split(" ")
    if len(tokens) != len(word_preds) + offset:
        return text, 0
    n = 0
    for k, (w, s) in enumerate(zip(word_preds, word_sims)):
        tok = tokens[k + offset]
        if not w or s < threshold or not tok or tok.lower() == w.lower():
            continue
        # preserve the char stream's full-token casing, not just the
        # initial cap: 'QUICK' stays all-caps after a word-bank rewrite
        if tok.isupper() and len(tok) > 1:
            tokens[k + offset] = w.upper()
        elif tok[:1].isupper():
            tokens[k + offset] = w.capitalize()
        else:
            tokens[k + offset] = w
        n += 1
    return " ".join(tokens), n
