"""Crop extraction + recognizer preprocess kernels.

Reimplements, in deterministic NumPy:
 - detector→image crop scale-back with full-height/width clip
   ("double_clipped", infer_effocr_onnx_multi.py:307-322)
 - MedianPad-to-square with override fill
   (utils/datasets_utils.py:69-90)
 - the paired inference transform pad→tensor→resize(224)→ImageNet-normalize
   (utils/datasets_utils.py:166-172); torchvision's
   bilinear Resize is replaced by a deterministic nearest-neighbor resize
   (exact reproducibility across partitionings beats interpolation
   fidelity here — the synthetic encoder is trained on the same resize)
"""

from __future__ import annotations

import os

import numpy as np

IMAGENET_MEAN = np.array([0.485, 0.456, 0.406], dtype=np.float32)
IMAGENET_STD = np.array([0.229, 0.224, 0.225], dtype=np.float32)
# The reference resizes crops to 224x224 for its timm encoders
# (datasets_utils.py:166-172). The deterministic stand-in encoder needs no
# ImageNet resolution, so the fixture configuration uses 16x16 — the
# transform contract (pad→resize→normalize→encode) is identical and a real
# ONNX recognizer would simply set this back to 224. (16x16 also keeps the
# per-crop tensor 588x smaller, which matters on shared memory buses.)
# EFFOCR_CROP_SIZE=224 (set BEFORE import, e.g. in a spark-submit env or
# tools/bench_real_tensors.py) runs the whole pipeline at reference tensor
# sizes — bench.py reports that configuration alongside the fixture one so
# the throughput headline survives a real-model drop-in. Must be a
# multiple of 16 (encoder pool grid).
CROP_SIZE = int(os.environ.get("EFFOCR_CROP_SIZE", "16"))


def scale_back_boxes(boxes_640: np.ndarray, im_h: int, im_w: int,
                     vertical: bool = False) -> np.ndarray:
    """[N,4] letterbox-space xyxy → [N,4] int pixel crop windows.

    Horizontal: x scaled by im_w/640, y clipped to full height; vertical:
    y scaled by im_h/640, x clipped to full width — exactly
    infer_effocr_onnx_multi.py:310-318 (round → scale → round).
    """
    if boxes_640.shape[0] == 0:
        return np.zeros((0, 4), dtype=np.int64)
    # float64 throughout so rounding matches the oracle's python-float math
    r = np.round(boxes_640[:, :4].astype(np.float64))  # torch.round analog
    out = np.zeros((boxes_640.shape[0], 4), dtype=np.int64)
    if vertical:
        out[:, 0] = 0
        out[:, 2] = im_w
        out[:, 1] = np.round(r[:, 1] * im_h / 640.0).astype(np.int64)
        out[:, 3] = np.round(r[:, 3] * im_h / 640.0).astype(np.int64)
    else:
        out[:, 1] = 0
        out[:, 3] = im_h
        out[:, 0] = np.round(r[:, 0] * im_w / 640.0).astype(np.int64)
        out[:, 2] = np.round(r[:, 2] * im_w / 640.0).astype(np.int64)
    return out


def median_pad_square(img: np.ndarray, override=(255, 255, 255)) -> np.ndarray:
    """Pad HxWx3 to square on the right/bottom (datasets_utils.py:69-90).

    With override=None the fill is the per-channel median of the border
    pixels; the inference transform always overrides with white
    (datasets_utils.py:166-172).
    """
    h, w = img.shape[:2]
    side = max(h, w)
    if override is None:
        rightb, leftb = img[:, w - 1, :], img[:, 0, :]
        topb, bottomb = img[0, :, :], img[h - 1, :, :]
        fill = np.median(np.concatenate([rightb, leftb, topb, bottomb], axis=0),
                         axis=0).astype(img.dtype)
    else:
        fill = np.asarray(override, dtype=img.dtype)
    out = np.empty((side, side, 3), dtype=img.dtype)
    out[:] = fill
    out[:h, :w, :] = img
    return out


def resize_nn(img: np.ndarray, size: int = CROP_SIZE) -> np.ndarray:
    """Deterministic nearest-neighbor resize HxWxC → size x size x C."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(size) * h) // size, h - 1)
    xs = np.minimum((np.arange(size) * w) // size, w - 1)
    return img[ys[:, None], xs[None, :]]


def paired_transform(crop: np.ndarray) -> np.ndarray:
    """HxWx3 uint8 crop → [3, CROP_SIZE, CROP_SIZE] float32 normalized
    tensor (create_paired_transform semantics, datasets_utils.py:166-172)."""
    sq = median_pad_square(crop, override=(255, 255, 255))
    rs = resize_nn(sq, CROP_SIZE).astype(np.float32) / 255.0
    rs = (rs - IMAGENET_MEAN) / IMAGENET_STD
    return np.ascontiguousarray(rs.transpose(2, 0, 1))


def extract_crops(img: np.ndarray, boxes_640: np.ndarray,
                  vertical: bool = False) -> list[np.ndarray | None]:
    """Cut crop windows out of an RGB image; empty windows → None
    (quarantined, not crashed — SURVEY.md §1.4)."""
    h, w = img.shape[:2]
    return cut_windows(img, scale_back_boxes(boxes_640, h, w,
                                             vertical=vertical))


def cut_windows(img: np.ndarray, wins: np.ndarray
                ) -> list[np.ndarray | None]:
    """The crops of `scale_back_boxes` windows, clipped to the image;
    empty windows → None. extract_crops is scale-back + this, for
    callers that keep the windows too."""
    h, w = img.shape[:2]
    crops: list[np.ndarray | None] = []
    for x0, y0, x1, y1 in wins.tolist():  # python ints: no numpy scalars
        x0c, y0c = max(x0, 0), max(y0, 0)
        x1c, y1c = min(x1, w), min(y1, h)
        if x1c <= x0c or y1c <= y0c:
            crops.append(None)
        else:
            crops.append(img[y0c:y1c, x0c:x1c, :])
    return crops
