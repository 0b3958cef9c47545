"""The OCR page kernel's fast spellings must be BIT-identical to the
reference ones: the shape-grouped batched transform and the fused
feature kernel to the per-crop paired_transform the oracle uses, the
elementwise channel-min to `img.min(axis=2)`, and the crops a strip
cuts from its windows to extract_crops. The bit-identity tests also run
in subprocesses at EFFOCR_CROP_SIZE 16, 32 and 224, since CROP_SIZE is
fixed at import."""

import os
import re
import subprocess
import sys

import numpy as np
import pytest

from effocr_spark.functions.crops import CROP_SIZE, paired_transform
from effocr_spark.functions.recognize import ZERO_CROP, _transform_batched


def test_batched_equals_per_crop_bitwise():
    rng = np.random.RandomState(3)
    crops = []
    for _ in range(40):
        h = rng.randint(5, 25)
        w = rng.randint(2, 30)
        crops.append(rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8))
    crops.insert(7, None)
    crops.append(None)
    batched = _transform_batched(crops)
    for i, c in enumerate(crops):
        exp = ZERO_CROP if c is None else paired_transform(c)
        assert np.array_equal(batched[i], exp), i


def test_greedy_nms_paths_agree():
    from effocr_spark.functions import boxes as B
    rng = np.random.RandomState(9)
    n = 300
    cx, cy = rng.uniform(0, 500, n), rng.uniform(0, 500, n)
    w, h = rng.uniform(2, 60, n), rng.uniform(2, 60, n)
    obj = rng.uniform(0.4, 1, n)
    pred = np.stack([cx, cy, w, h, obj, obj * 0 + 0.9, obj * 0 + 0.1],
                    axis=1).astype(np.float32)
    fast = B.non_max_suppression(pred, iou_thres=0.3)
    cap = B._NMS_MATRIX_CAP
    try:
        B._NMS_MATRIX_CAP = 0  # force the row-at-a-time fallback
        slow = B.non_max_suppression(pred, iou_thres=0.3)
    finally:
        B._NMS_MATRIX_CAP = cap
    assert np.array_equal(fast, slow)


def test_fused_features_equal_transform_then_encode_bitwise():
    """The fused feature kernel (_features_batched: normalize+chanmean on
    the small crop, THEN upsample, then pool) must be bitwise-identical
    to encode_features(_transform_batched(crops)) — the reordering is
    pure per-pixel maps + selections. Covers upsample (small crops),
    downsample (crop side > CROP_SIZE), and None slots."""
    from effocr_spark.functions.recognize import _features_batched
    from effocr_spark.synth import model as synthmodel

    rng = np.random.RandomState(11)
    crops = []
    for _ in range(30):
        h = rng.randint(4, 28)
        w = rng.randint(2, 34)
        crops.append(rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8))
    # downsample cases: sides larger than any CROP_SIZE config
    crops.append(rng.randint(0, 256, size=(300, 41, 3), dtype=np.uint8))
    crops.append(rng.randint(0, 256, size=(17, 260, 3), dtype=np.uint8))
    crops.insert(3, None)
    crops.append(None)

    fused = _features_batched(crops)
    ref = synthmodel.encode_features(_transform_batched(crops))
    assert fused.dtype == ref.dtype and fused.shape == ref.shape
    assert np.array_equal(fused, ref)


def test_fused_embeddings_equal_standard_path_bitwise():
    """embed_crops (fused) == L2norm(encode_crops(_transform_batched))."""
    from effocr_spark.functions.recognize import embed_crops
    from effocr_spark.synth import model as synthmodel

    rng = np.random.RandomState(12)
    crops = [rng.randint(0, 256, size=(rng.randint(5, 20),
                                       rng.randint(3, 25), 3),
                         dtype=np.uint8) for _ in range(25)]
    crops.insert(5, None)
    emb = embed_crops(crops)
    ref = synthmodel.encode_crops(_transform_batched(crops))
    norms = np.linalg.norm(ref, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    assert np.array_equal(emb, (ref / norms).astype(np.float32))


def _real_shape_crops(rng):
    """The crop shapes the workloads produce (18x5 char crops, side just
    above the 16px CROP_SIZE; 9x14 below it), the same geometry relative
    to the running CROP_SIZE, side == CROP_SIZE, gray and all-white
    crops, and None slots."""
    s = CROP_SIZE
    shapes = [(18, 5), (9, 14), (s + 2, 5), (9, s - 2), (s, 3), (4, s),
              (s, s), (s + 1, s + 1)]
    crops = []
    for h, w in shapes:
        crops += [rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
                  for _ in range(3)]
        g = rng.randint(0, 256, size=(h, w, 1), dtype=np.uint8)
        crops.append(np.repeat(g, 3, axis=2))
        crops.append(np.full((h, w, 3), 255, dtype=np.uint8))
    crops.insert(2, None)
    crops.append(None)
    return crops


def test_real_shapes_fused_and_batched_bitwise():
    from effocr_spark.functions.recognize import _features_batched
    from effocr_spark.synth import model as synthmodel

    crops = _real_shape_crops(np.random.RandomState(13))
    batched = _transform_batched(crops)
    for i, c in enumerate(crops):
        exp = ZERO_CROP if c is None else paired_transform(c)
        assert np.array_equal(batched[i], exp), i
    fused = _features_batched(crops)
    ref = synthmodel.encode_features(batched)
    assert fused.dtype == ref.dtype and np.array_equal(fused, ref)
    # a one-crop group per shape concatenates to the same rows
    for i, c in enumerate(crops):
        assert np.array_equal(_features_batched([c])[0], ref[i]), i


@pytest.mark.parametrize("normalize", [True, False])
@pytest.mark.parametrize("artifact", [False, True])
def test_crop_embedded_alone_equals_its_row_in_a_batch(normalize, artifact):
    """A one-row GEMM takes a different BLAS kernel that rounds
    differently; a crop embedded alone (a one-crop encoder sub-batch)
    must still equal its row in a multi-crop call, for the built-in
    weights and for a projection artifact."""
    from effocr_spark.functions.recognize import embed_crops
    from effocr_spark.synth import model as synthmodel

    proj = synthmodel._PROJ.copy() if artifact else None
    crops = _real_shape_crops(np.random.RandomState(14))
    rng = np.random.RandomState(15)
    crops += [rng.randint(0, 256, size=(rng.randint(5, 30),
                                        rng.randint(3, 30), 3),
                          dtype=np.uint8) for _ in range(24)]
    full = embed_crops(crops, normalize=normalize, projection=proj)
    for i, c in enumerate(crops):
        alone = embed_crops([c], normalize=normalize, projection=proj)
        assert alone.shape == (1, full.shape[1])
        assert np.array_equal(alone[0], full[i]), i


@pytest.mark.parametrize("crop_size", [16, 32, 224])
def test_bitwise_tests_in_subprocess_at_crop_size(crop_size):
    env = {**os.environ, "EFFOCR_CROP_SIZE": str(crop_size)}
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", __file__, "-q",
         "-p", "no:cacheprovider", "-k", "bitwise and not subprocess"],
        env=env, capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]
    assert re.search(r"\b4 passed", proc.stdout), proc.stdout[-500:]


def test_channel_min_equals_min_over_axis2():
    from effocr_spark.functions.lineseg import channel_min

    rng = np.random.RandomState(21)
    for h, w in ((1, 1), (7, 3), (40, 97), (123, 64)):
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        gray = channel_min(img)
        assert gray.dtype == np.uint8
        assert np.array_equal(gray, img.min(axis=2))
    flat = rng.randint(0, 256, size=(9, 11), dtype=np.uint8)
    assert channel_min(flat) is flat


def test_strip_crops_equal_extract_crops():
    """_localize_strip cuts its crops from the windows it keeps; they
    equal extract_crops(strip, boxes) over the same reading-order boxes,
    and the head sees the same gray plane from an RGB strip."""
    from effocr_spark.functions import assemble as asm
    from effocr_spark.functions import boxes as boxes_fn
    from effocr_spark.functions import crops as crops_fn
    from effocr_spark.functions.lineseg import (column_strip_gray_triples,
                                                line_strip_gray_triples)
    from effocr_spark.operators.extract import _localize_strip
    from effocr_spark.synth import model as synthmodel
    from effocr_spark.synth.font import render_page, render_page_vertical

    pages = (("en", render_page(["The quick dog, 1874.",
                                 "Jumps (over) the lazy fox?"])),
             ("jp", render_page_vertical(["あいうえお", "かきくけこさ"])))
    n_lines = 0
    for lang, gray_page in pages:
        vertical = lang == "jp"
        rgb = np.repeat(gray_page[:, :, None], 3, axis=2)
        triples = (column_strip_gray_triples(rgb) if vertical
                   else line_strip_gray_triples(rgb))
        for strip, gray, _ in triples:
            head = synthmodel.synthetic_yolo_head(gray, vertical=vertical)
            assert np.array_equal(
                head, synthmodel.synthetic_yolo_head(strip, vertical=vertical))
            det = boxes_fn.non_max_suppression(head, conf_thres=0.35,
                                               iou_thres=0.01, max_det=1000)
            char_det = det[det[:, 5] == synthmodel.CLS_CHAR]
            word_det = det[det[:, 5] == synthmodel.CLS_WORD]
            if vertical:
                boxes = asm.jp_preprocess(char_det[:, :4], vertical=True)
            else:
                boxes, _ = asm.en_preprocess(char_det[:, :4],
                                             word_det[:, :4])
            line = _localize_strip(strip, lang, vertical, 0.35, 0.01,
                                   gray=gray)
            want = crops_fn.extract_crops(strip, boxes, vertical=vertical)
            assert len(want) == len(line["crops"]) > 0
            for a, b in zip(line["crops"], want):
                assert (a is None and b is None) or np.array_equal(a, b)
            assert np.array_equal(line["windows"], crops_fn.scale_back_boxes(
                boxes, strip.shape[0], strip.shape[1], vertical=vertical))
            n_lines += 1
    assert n_lines == 4
