"""Pinned plain-Python oracle: a loop-based transliteration of the
reference inference dataflow (infer_effocr_onnx_multi.py:
227-397 with en/jp pre/postprocess :70-140 and the YOLO NMS,
onnx_engines/localizer_engine.py:171-277).

The Spark pipeline reimplements the same semantics vectorized; only the
"model artifacts" (synthetic head + encoder + paired transform, see
effocr_spark.synth.model) are shared — the analog of both entry points
loading the same ONNX weights. Tests assert byte-identical extracted
text per url between this oracle and the Spark pipeline at multiple
parallelism levels.
"""

from __future__ import annotations

import numpy as np

from .functions.crops import paired_transform
from .functions.spellcheck import (
    create_common_abbrev,
    create_homoglyph_dict,
    create_worddict,
    visual_spell_checker,
)
from .synth import model as synthmodel
from .operators.extract import decode_image  # png+jpeg dispatch (S1)
from .synth.imgcodec import decode_png, to_rgb  # noqa: F401 (png-only callers)

LARGE_NUMBER = 1_000_000_000


# --- NMS: direct transliteration of localizer_engine.py:140-148,171-277 ---

def _xywh2xyxy(x):
    y = np.copy(x)
    y[:, 0] = x[:, 0] - x[:, 2] / 2
    y[:, 1] = x[:, 1] - x[:, 3] / 2
    y[:, 2] = x[:, 0] + x[:, 2] / 2
    y[:, 3] = x[:, 1] + x[:, 3] / 2
    return y


def _iou_single(box, others, eps=1e-7):
    lt = np.maximum(box[:2], others[:, :2])
    rb = np.minimum(box[2:4], others[:, 2:4])
    inter = np.clip(rb - lt, 0, None).prod(axis=1)
    area1 = (box[2] - box[0]) * (box[3] - box[1])
    area2 = (others[:, 2] - others[:, 0]) * (others[:, 3] - others[:, 1])
    return inter / (area1 + area2 - inter + eps)


def oracle_nms(prediction, conf_thres=0.35, iou_thres=0.01, max_det=1000):
    """[N, 5+nc] raw head → [M, 6] (xyxy, conf, cls)."""
    max_wh = 7680
    max_nms = 30000
    x = prediction[prediction[:, 4] > conf_thres]
    if x.shape[0] == 0:
        return np.zeros((0, 6), dtype=np.float32)
    x = x.astype(np.float64)
    x[:, 5:] = x[:, 5:] * x[:, 4:5]
    box = _xywh2xyxy(x[:, :4])
    conf = x[:, 5:].max(axis=1)
    j = x[:, 5:].argmax(axis=1).astype(np.float64)
    x = np.concatenate([box, conf[:, None], j[:, None]], axis=1)
    x = x[conf > conf_thres]
    if x.shape[0] == 0:
        return np.zeros((0, 6), dtype=np.float32)
    order = np.argsort(-x[:, 4], kind="stable")[:max_nms]
    x = x[order]
    offset_boxes = x[:, :4] + x[:, 5:6] * max_wh
    keep = []
    alive = list(range(x.shape[0]))
    while alive:
        i = alive.pop(0)
        keep.append(i)
        if not alive:
            break
        rest = np.array(alive)
        ious = _iou_single(offset_boxes[i], offset_boxes[rest])
        alive = [a for a, iou in zip(alive, ious) if iou <= iou_thres]
    keep = keep[:max_det]
    return x[keep].astype(np.float32)


# --- en/jp pre/postprocess: transliteration of infer_effocr_onnx_multi.py:70-140 ---

def _flatten(L):
    for item in L:
        try:
            yield from _flatten(item)
        except TypeError:
            yield item


def oracle_en_preprocess(bboxes_char, bboxes_word, vertical=False):
    sorted_bboxes_char = sorted(bboxes_char, key=lambda x: x[1] if vertical else x[0])
    sorted_bboxes_word = sorted(bboxes_word, key=lambda x: x[1] if vertical else x[0])
    word_end_idx = []
    closest_idx = 0
    char_rights = [x[2] for x in sorted_bboxes_char]
    word_lefts = [x[0] for x in sorted_bboxes_word]
    for wordleft in word_lefts:
        prev_dist = LARGE_NUMBER
        for idx, charright in enumerate(char_rights):
            dist = abs(wordleft - charright)
            if dist < prev_dist and charright > wordleft:
                prev_dist = dist
                closest_idx = idx
        word_end_idx.append(closest_idx)
    assert len(word_end_idx) == len(sorted_bboxes_word)
    return sorted_bboxes_char, word_end_idx


def oracle_jp_preprocess(bboxes_char, vertical=True):
    return sorted(bboxes_char, key=lambda x: x[1] if vertical else x[0])


def create_distinct_lowercase():
    return list("aenr")


def create_nondistinct_lowercase():
    return list("wuosvcxz")


def oracle_en_postprocess(line_output, word_end_idx, charheights, charbottoms,
                          anchor_margin=None, anchor_multiplier=4):
    assert len(line_output) == len(charheights) == len(charbottoms)
    if any(map(lambda x: len(x) == 0,
               (line_output, word_end_idx, charheights, charbottoms))):
        return None

    outchars_w_spaces = [" " + x if idx in word_end_idx else x
                         for idx, x in enumerate(line_output)]
    charheights_w_spaces = list(_flatten(
        [(LARGE_NUMBER, x) if idx in word_end_idx else x
         for idx, x in enumerate(charheights)]))
    charbottoms_w_spaces = list(_flatten(
        [(0, x) if idx in word_end_idx else x
         for idx, x in enumerate(charbottoms)]))
    charbottoms_w_spaces = (charbottoms_w_spaces[1:]
                            if charbottoms_w_spaces[0] == 0 else charbottoms_w_spaces)
    charheights_w_spaces = (charheights_w_spaces[1:]
                            if charheights_w_spaces[0] == LARGE_NUMBER
                            else charheights_w_spaces)

    line_output = "".join(outchars_w_spaces).strip()
    assert len(charheights_w_spaces) == len(line_output)

    output_distinct_lower_idx = [idx for idx, c in enumerate(line_output)
                                 if c in create_distinct_lowercase()]

    if len(output_distinct_lower_idx) > 0 and anchor_margin is not None:
        avg_h = (sum(charheights_w_spaces[idx] for idx in output_distinct_lower_idx)
                 / len(output_distinct_lower_idx))
        output_tolower_idx = [
            idx for idx, c in enumerate(line_output)
            if abs(charheights_w_spaces[idx] - avg_h) < anchor_margin * avg_h]
        output_toupper_idx = [
            idx for idx, c in enumerate(line_output)
            if charheights_w_spaces[idx] - avg_h > anchor_margin * anchor_multiplier * avg_h]
        avg_b = (sum(charbottoms_w_spaces[idx] for idx in output_distinct_lower_idx)
                 / len(output_distinct_lower_idx))
        output_toperiod_idx = [
            idx for idx, c in enumerate(line_output)
            if c == "-" and abs(charbottoms_w_spaces[idx] - avg_b) < anchor_margin * avg_h]

        nondistinct_lower = create_nondistinct_lowercase()
        line_output = "".join([c.lower() if idx in output_tolower_idx else c
                               for idx, c in enumerate(line_output)])
        line_output = "".join([c.upper() if idx in output_toupper_idx
                               and c in nondistinct_lower else c
                               for idx, c in enumerate(line_output)])
        line_output = "".join(["." if idx in output_toperiod_idx else c
                               for idx, c in enumerate(line_output)])

    return line_output


# --- the full per-image dataflow (run_effocr, :227-397) ---

def run_reference_ocr(images, candidate_chars, prototypes, lang="en",
                      vertical=False, conf_thres=0.35, iou_thres=0.01,
                      anchor_margin=None, spell_check=False,
                      recognizer="knn"):
    """images: list[(url, png_bytes)] → {url: extracted_text_or_None}.
    The reference's native shape: one textline image per key."""
    arrays = [(url, decode_image(bytes(png))) for url, png in images]
    return _run_reference_ocr_arrays(
        arrays, candidate_chars, prototypes, lang=lang, vertical=vertical,
        conf_thres=conf_thres, iou_thres=iou_thres,
        anchor_margin=anchor_margin, spell_check=spell_check,
        recognizer=recognizer)


def run_reference_extraction(images, candidate_chars, prototypes,
                             lang="en", vertical=False, conf_thres=0.35,
                             iou_thres=0.01, anchor_margin=None,
                             spell_check=False, recognizer="knn"):
    """Page-level oracle: segment each page into line strips (shared
    page-level infra, functions/lineseg.py), run the per-line reference
    dataflow on every strip, join non-None lines with '\\n' per url
    (all-None / zero-line pages → None). Mirrors the Spark pipeline's
    multi-line extension of the reference's per-line contract."""
    from .functions.lineseg import column_strips, line_strips

    strip_imgs = []
    page_lines: dict = {}
    for url, png in images:
        im = decode_image(bytes(png))
        strips = column_strips(im) if vertical else line_strips(im)
        page_lines[url] = len(strips)
        for i, s in enumerate(strips):
            strip_imgs.append(((url, i), s))
    per_line = _run_reference_ocr_arrays(
        strip_imgs, candidate_chars, prototypes, lang=lang,
        vertical=vertical, conf_thres=conf_thres, iou_thres=iou_thres,
        anchor_margin=anchor_margin, spell_check=spell_check,
        recognizer=recognizer)
    results = {}
    for url, n in page_lines.items():
        texts = [per_line[(url, i)] for i in range(n)]
        texts = [t for t in texts if t is not None]
        results[url] = "\n".join(texts) if texts else None
    return results


def _run_reference_ocr_arrays(images, candidate_chars, prototypes,
                              lang="en", vertical=False, conf_thres=0.35,
                              iou_thres=0.01, anchor_margin=None,
                              spell_check=False, recognizer="knn"):
    """images: list[(key, HxWx3 uint8 array)] → {key: text_or_None}.

    Single-threaded, list-based, ordered exactly like the reference's
    queue-drain dataflow (which Spark's keyed-by-url model makes moot).
    """
    if vertical is None:
        vertical = lang == "jp"
    char_crops, word_end_idxs, n_chars = [], [], []
    charheights, charbottoms, new_order = [], [], []

    for url, im in images:
        new_order.append(url)
        head = synthmodel.synthetic_yolo_head(im, vertical=vertical)
        result = oracle_nms(head, conf_thres=conf_thres, iou_thres=iou_thres,
                            max_det=1000)
        bboxes, labels = result[:, :4], result[:, -1]

        if lang == "en":
            char_bboxes = [tuple(b) for b in bboxes[labels == 0]]
            word_bboxes = [tuple(b) for b in bboxes[labels == 1]]
            if len(char_bboxes) != 0:
                char_bboxes, word_end_idx = oracle_en_preprocess(
                    char_bboxes, word_bboxes, vertical=vertical)
                n_chars.append(len(char_bboxes))
                word_end_idxs.append(word_end_idx)
            else:
                n_chars.append(0)
                word_end_idxs.append([])
        else:
            char_bboxes = [tuple(b) for b in bboxes[labels == 0]]
            if len(char_bboxes) != 0:
                char_bboxes = oracle_jp_preprocess(char_bboxes, vertical=vertical)
                n_chars.append(len(char_bboxes))
            else:
                n_chars.append(0)

        im_height, im_width = im.shape[0], im.shape[1]
        for bbox in char_bboxes:
            x0, y0, x1, y1 = [float(np.round(v)) for v in bbox[:4]]
            if vertical:
                x0, y0 = 0, int(round(y0 * im_height / 640))
                x1, y1 = im_width, int(round(y1 * im_height / 640))
            else:
                x0, y0 = int(round(x0 * im_width / 640)), 0
                x1, y1 = int(round(x1 * im_width / 640)), im_height
            char_crops.append(im[y0:y1, x0:x1, :])
            if lang == "en":
                charheights.append(float(bbox[3] - bbox[1]))
                charbottoms.append(float(bbox[3]))

    # transform stage (TransformationThread: exceptions → None, :197-204)
    transformed = []
    for crop in char_crops:
        try:
            transformed.append(paired_transform(crop))
        except Exception:
            transformed.append(None)

    # recognize stage (create_batches zero-fill + encode + L2 + kNN, :143-158,347-375)
    from .functions.crops import CROP_SIZE
    zero = np.zeros((3, CROP_SIZE, CROP_SIZE), dtype=np.float32)
    tensors = [zero if t is None else t for t in transformed]
    if tensors:
        batch = np.stack(tensors)
        emb = synthmodel.encode_crops(batch)
        if recognizer == "knn":
            # CPU path: L2 normalize + inner-product kNN (:371-375)
            norms = np.linalg.norm(emb, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            emb = emb / norms
        # FFNN path: raw-logit argmax over the classifier head
        # (infer_effocr.py:325-333); class_map = candidate_chars
        indices = [int(np.argmax(e @ prototypes.T)) for e in emb]
    else:
        indices = []
    nn_outputs = [candidate_chars[idx] for idx in indices]

    # postprocess: positional regroup by n_chars (:377-393)
    results = {}
    idx = 0
    textline_outputs, textline_bottoms, textline_heights = [], [], []
    for n in n_chars:
        textline_outputs.append(nn_outputs[idx: idx + n])
        textline_bottoms.append(charbottoms[idx: idx + n])
        textline_heights.append(charheights[idx: idx + n])
        idx += n
    outputs = ["".join(x[0] for x in textline).strip()
               for textline in textline_outputs]

    if spell_check:
        worddict = create_worddict()
        simdict = create_homoglyph_dict()
        abbrevset = create_common_abbrev()

    if lang == "en":
        for i, url in enumerate(new_order):
            out = oracle_en_postprocess(outputs[i], word_end_idxs[i],
                                        textline_heights[i], textline_bottoms[i],
                                        anchor_margin=anchor_margin)
            if spell_check and out is not None:
                out = visual_spell_checker(out, worddict, simdict, abbrevset)
            results[url] = out
    else:
        for i, url in enumerate(new_order):
            results[url] = outputs[i]
    return results


def gt_collect(results, gts):
    """Left-outer GT↔prediction join (infer_effocr_onnx_multi.py:59-67)."""
    gt_pred_pairs = []
    for fn, gt in gts:
        pred = results.get(fn, None)
        gt_pred_pairs.append((gt, "" if pred is None else pred))
    return gt_pred_pairs
