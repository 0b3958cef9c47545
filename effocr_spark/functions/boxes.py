"""Box geometry + NMS kernels (vectorized NumPy).

Faithful reimplementation of the reference's YOLO postprocess semantics —
xywh→xyxy (onnx_engines/localizer_engine.py:140-148),
pairwise IoU (:150-169), greedy class-offset NMS (:171-277), IoM
(format_effocr_recognizer_dataset.py:44-81) — without
torch/torchvision. Runs per-row inside pandas UDFs; no Spark imports here.
"""

from __future__ import annotations

import numpy as np

MAX_WH = 7680      # class-offset trick constant (localizer_engine.py:200)
MAX_NMS = 30000    # pre-NMS top-k cap (localizer_engine.py:201)


def xywh2xyxy(x: np.ndarray) -> np.ndarray:
    """[N,4] center-format boxes → corner format (localizer_engine.py:140-148)."""
    y = np.copy(x)
    y[:, 0] = x[:, 0] - x[:, 2] / 2
    y[:, 1] = x[:, 1] - x[:, 3] / 2
    y[:, 2] = x[:, 0] + x[:, 2] / 2
    y[:, 3] = x[:, 1] + x[:, 3] / 2
    return y


def box_iou(box1: np.ndarray, box2: np.ndarray, eps: float = 1e-7) -> np.ndarray:
    """[N,4] x [M,4] → [N,M] pairwise IoU (localizer_engine.py:150-169).

    Spelled per-coordinate rather than over stacked [N,M,2] temporaries:
    identical elementwise min/max/sub/clip/multiply (prod over a length-2
    axis IS w*h in the same order), half the bytes touched per pass —
    NMS calls this once per strip with N=M≈100, where temporary size is
    pure dispatch overhead (r7)."""
    ax0, ay0, ax1, ay1 = (box1[:, None, i] for i in range(4))
    bx0, by0, bx1, by1 = (box2[None, :, i] for i in range(4))
    iw = np.clip(np.minimum(ax1, bx1) - np.maximum(ax0, bx0), 0, None)
    ih = np.clip(np.minimum(ay1, by1) - np.maximum(ay0, by0), 0, None)
    inter = iw * ih
    area1 = (ax1 - ax0) * (ay1 - ay0)
    area2 = (bx1 - bx0) * (by1 - by0)
    return inter / (area1 + area2 - inter + eps)


def box_iom(box1: np.ndarray, box2: np.ndarray, eps: float = 1e-7) -> np.ndarray:
    """Intersection-over-minimum-area, pairwise [N,M]
    (format_effocr_recognizer_dataset.py:44-81)."""
    a1, a2 = box1[:, None, :2], box1[:, None, 2:4]
    b1, b2 = box2[None, :, :2], box2[None, :, 2:4]
    inter = np.clip(np.minimum(a2, b2) - np.maximum(a1, b1), 0, None).prod(2)
    area1 = (a2 - a1).prod(2)
    area2 = (b2 - b1).prod(2)
    return inter / (np.minimum(area1, area2) + eps)


# precompute the full IoU matrix when it fits; beyond this, fall back to
# row-at-a-time (memory: MATRIX_CAP^2 doubles = 128 MB)
_NMS_MATRIX_CAP = 4000


def _greedy_nms(boxes: np.ndarray, iou_thres: float) -> np.ndarray:
    """Greedy NMS over score-desc pre-sorted [N,4] boxes → kept indices
    (in score order, like torchvision.ops.nms on sorted input)."""
    n = boxes.shape[0]
    suppressed = np.zeros(n, dtype=bool)
    keep = []
    if n <= _NMS_MATRIX_CAP:
        # one vectorized IoU pass AND one vectorized threshold compare:
        # the `> iou_thres` used to run per kept row inside the greedy
        # loop (an n-element ufunc dispatch per kept box — half the
        # loop's cost at strip sizes); the booleans are identical
        over = box_iou(boxes, boxes) > iou_thres
        for i in range(n):
            if suppressed[i]:
                continue
            keep.append(i)
            if i + 1 < n:
                suppressed[i + 1 :] |= over[i, i + 1 :]
        return np.asarray(keep, dtype=np.int64)
    for i in range(n):
        if suppressed[i]:
            continue
        keep.append(i)
        if i + 1 < n:
            rest = np.nonzero(~suppressed[i + 1 :])[0] + i + 1
            if rest.size:
                ious = box_iou(boxes[i : i + 1], boxes[rest])[0]
                suppressed[rest[ious > iou_thres]] = True
    return np.asarray(keep, dtype=np.int64)


def non_max_suppression(
    prediction: np.ndarray,
    conf_thres: float = 0.35,
    iou_thres: float = 0.01,
    max_det: int = 1000,
) -> np.ndarray:
    """Single-image YOLO NMS: [N, 5+nc] raw head rows → [M, 6]
    (x1, y1, x2, y2, conf, cls), following localizer_engine.py:171-277
    (best-class-only path, nm=0): conf predicate → conf=obj*cls →
    xywh2xyxy → best class → conf-desc sort (+MAX_NMS cap) →
    class-offset greedy NMS → max_det cap.
    """
    assert 0 <= conf_thres <= 1 and 0 <= iou_thres <= 1
    x = prediction[prediction[:, 4] > conf_thres]
    if x.shape[0] == 0:
        return np.zeros((0, 6), dtype=np.float32)
    x = x.astype(np.float64, copy=True)
    x[:, 5:] *= x[:, 4:5]                      # conf = obj_conf * cls_conf
    box = xywh2xyxy(x[:, :4])
    conf = x[:, 5:].max(axis=1)
    j = x[:, 5:].argmax(axis=1)                 # ties → lowest class index
    x = np.concatenate([box, conf[:, None], j[:, None].astype(np.float64)], axis=1)
    x = x[conf > conf_thres]
    n = x.shape[0]
    if n == 0:
        return np.zeros((0, 6), dtype=np.float32)
    order = np.argsort(-x[:, 4], kind="stable")
    if n > MAX_NMS:
        order = order[:MAX_NMS]
    x = x[order]
    c = x[:, 5:6] * MAX_WH                      # class offset: no cross-class suppression
    keep = _greedy_nms(x[:, :4] + c, iou_thres)
    if keep.shape[0] > max_det:
        keep = keep[:max_det]
    return x[keep].astype(np.float32)
