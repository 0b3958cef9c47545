"""Deterministic synthetic detector + recognizer ("model artifacts").

These play the role of the reference's ONNX weights
(best_bbox_mAP.onnx / enc_best.onnx, infer_effocr_onnx_multi.py:475-494):
both the Spark pipeline and the plain-Python oracle consume them through
the same call seam, so a real ONNX model can replace them behind the same
interface (localizer_engine.py:46-66, recognizer_engine.py:23-27).

 - `synthetic_yolo_head(img, vertical)`: projection-profile text detector
   that emits YOLO-raw-head-style candidates [N, 7] =
   (cx, cy, w, h, obj_conf, cls0_score, cls1_score) in 640-letterbox
   coordinates, including deterministic duplicate and sub-threshold decoy
   candidates so downstream NMS (localizer_engine.py:171-277 semantics)
   is load-bearing in end-to-end runs.
 - `encode_crops(batch)`: seeded linear-projection embedding of
   normalized 224x224 crops (stand-in for the timm encoder,
   models/encoders.py:32-47); L2-normalized by the caller exactly as
   infer_effocr_onnx_multi.py:371.

Everything is a pure function of its inputs + fixed seeds.
"""

from __future__ import annotations

import os

import numpy as np

from ..functions.lineseg import channel_min

DETECT_SIZE = 640          # letterbox target (localizer_engine.py:17 input_shape)
WORD_GAP_THRESHOLD = 5.0   # original-pixel gap separating words (synth fixture geometry)
INK_THRESHOLD = 128        # pixel < this counts as ink
# EFFOCR_EMBED_DIM=768 (with EFFOCR_CROP_SIZE=224) runs the pipeline at the
# reference's timm-encoder tensor sizes; see functions/crops.py CROP_SIZE.
EMBED_DIM = int(os.environ.get("EFFOCR_EMBED_DIM", "64"))
_ENC_SEED = 20240817
_POOL = 16                 # encoder pools the crop to a 16x16 grid before projection

CLS_CHAR = 0
CLS_WORD = 1


def letterbox_geometry(h: int, w: int, new_shape: int = DETECT_SIZE):
    """Resize/pad geometry of the reference letterbox (auto=False,
    localizer_engine.py:107-138): returns (r, dw, dh)."""
    r = min(new_shape / h, new_shape / w)
    new_unpad = (int(round(w * r)), int(round(h * r)))
    dw = (new_shape - new_unpad[0]) / 2
    dh = (new_shape - new_unpad[1]) / 2
    return r, dw, dh


def _ink_runs(profile: np.ndarray):
    """Contiguous True-runs of a 1-D ink profile → list of (start, stop)."""
    d = np.diff(np.concatenate(([0], profile.astype(np.int8), [0])))
    starts = np.flatnonzero(d == 1)
    stops = np.flatnonzero(d == -1)
    return list(zip(starts.tolist(), stops.tolist()))


def _mix(*vals: int) -> float:
    """Deterministic tiny epsilon in [0, 1e-3) from integer coords —
    makes every candidate confidence distinct so sort order is stable."""
    acc = 0x9E3779B9
    for v in vals:
        acc = (acc ^ (int(v) + 0x7F4A7C15)) * 0x85EBCA6B % (1 << 32)
    return (acc % 1000) / 1e6


def _mix_vec(cols: list[np.ndarray]) -> np.ndarray:
    """Vectorized _mix over column arrays (exact same values: every
    intermediate fits in uint64, and (x mod 2^64) mod 2^32 == x mod 2^32)."""
    acc = np.full(cols[0].shape, 0x9E3779B9, dtype=np.uint64)
    for v in cols:
        acc = (acc ^ (v.astype(np.uint64) + np.uint64(0x7F4A7C15))) \
            * np.uint64(0x85EBCA6B) % np.uint64(1 << 32)
    return (acc % np.uint64(1000)).astype(np.float64) / 1e6


def synthetic_yolo_head(img: np.ndarray, vertical: bool = False) -> np.ndarray:
    """Detect text boxes in a rendered line image; emit raw-head candidates.

    Output rows (float32): cx, cy, w, h, obj, cls0(char), cls1(word) in
    DETECT_SIZE-letterbox coordinates. Per true box, three candidates:
    the true box (high conf), a 1px-shifted duplicate (lower conf, to be
    NMS-suppressed), and a sub-threshold decoy (conf filter fodder,
    localizer_engine.py:192).
    """
    gray = channel_min(img)
    h, w = gray.shape
    ink = gray < INK_THRESHOLD
    r, dw, dh = letterbox_geometry(h, w)

    axis = 0 if not vertical else 1          # project onto x (cols) or y (rows)
    profile = ink.any(axis=axis)
    runs = _ink_runs(profile)
    has = profile  # the per-column/row ink flags ARE the run profile

    char_boxes = []  # (x0, y0, x1, y1) original pixels
    if runs:
        # vectorized per-run ink extents (bitwise-identical to the
        # per-run .any() scans, ~1 reduction instead of one per char):
        # first/last ink row per column, then min/max across each run's
        # columns via reduceat
        if not vertical:
            first = np.where(has, ink.argmax(axis=0), h)
            last = np.where(has, h - 1 - ink[::-1, :].argmax(axis=0), -1)
            starts = np.array([a for a, _ in runs], dtype=np.int64)
            y0s = np.minimum.reduceat(first, starts)
            y1s = np.maximum.reduceat(last, starts) + 1
            # reduceat spans run-start..next-run-start; inter-run gap
            # columns have first=h / last=-1 so they never win min/max,
            # EXCEPT past the final run — slice exactly there:
            la, lb = runs[-1]
            y0s[-1] = first[la:lb].min()
            y1s[-1] = last[la:lb].max() + 1
            for (a, b), y0, y1 in zip(runs, y0s, y1s):
                char_boxes.append((a, int(y0), b, int(y1)))
        else:
            first = np.where(has, ink.argmax(axis=1), w)
            last = np.where(has, w - 1 - ink[:, ::-1].argmax(axis=1), -1)
            starts = np.array([a for a, _ in runs], dtype=np.int64)
            x0s = np.minimum.reduceat(first, starts)
            x1s = np.maximum.reduceat(last, starts) + 1
            la, lb = runs[-1]
            x0s[-1] = first[la:lb].min()
            x1s[-1] = last[la:lb].max() + 1
            for (a, b), x0, x1 in zip(runs, x0s, x1s):
                char_boxes.append((int(x0), a, int(x1), b))

    # group runs into words by gap size (original-pixel units)
    word_boxes = []
    if not vertical and char_boxes:
        group = [char_boxes[0]]
        for prev, cur in zip(char_boxes, char_boxes[1:]):
            gap = cur[0] - prev[2]
            if gap > WORD_GAP_THRESHOLD:
                word_boxes.append(_merge(group))
                group = [cur]
            else:
                group.append(cur)
        word_boxes.append(_merge(group))

    all_boxes = list(char_boxes) + list(word_boxes)
    if not all_boxes:
        return np.zeros((0, 7), dtype=np.float32)
    bx = np.asarray(all_boxes, dtype=np.int64)  # [N,4] original pixels
    cls = np.concatenate([
        np.full(len(char_boxes), CLS_CHAR, dtype=np.int64),
        np.full(len(word_boxes), CLS_WORD, dtype=np.int64),
    ])
    # map to letterbox space (the space the real model predicts in);
    # float64 throughout, truncated to float32 once at the end — same
    # values as the per-box python spelling
    lx0 = bx[:, 0] * r + dw
    ly0 = bx[:, 1] * r + dh
    lx1 = bx[:, 2] * r + dw
    ly1 = bx[:, 3] * r + dh
    cx, cy = (lx0 + lx1) / 2, (ly0 + ly1) / 2
    bw, bh = lx1 - lx0, ly1 - ly0
    eps = _mix_vec([bx[:, 0], bx[:, 1], bx[:, 2], bx[:, 3], cls])
    c0 = np.where(cls == CLS_CHAR, 0.97, 0.02)
    c1 = np.where(cls == CLS_CHAR, 0.02, 0.97)
    # per box: true candidate / 1px-shifted NMS-food dup / sub-threshold decoy
    cands = np.empty((bx.shape[0], 3, 7), dtype=np.float64)
    cands[:, 0] = np.stack([cx, cy, bw, bh, 0.90 + eps, c0, c1], axis=1)
    cands[:, 1] = np.stack([cx + 1.0, cy, bw, bh, 0.60 + eps, c0, c1], axis=1)
    cands[:, 2] = np.stack([cx, cy + 2.0, bw, bh, 0.10 + eps, c0, c1], axis=1)
    return cands.reshape(-1, 7).astype(np.float32)


def _merge(group):
    return (
        min(g[0] for g in group),
        min(g[1] for g in group),
        max(g[2] for g in group),
        max(g[3] for g in group),
    )


def _projection_matrix() -> np.ndarray:
    rng = np.random.RandomState(_ENC_SEED)
    m = rng.standard_normal((_POOL * _POOL, EMBED_DIM)).astype(np.float32)
    return m / np.sqrt(_POOL * _POOL)


_PROJ = _projection_matrix()

# ---- serialized model artifact (the ONNX-file analog) -----------------
# The reference loads best_bbox_mAP.onnx / enc_best.onnx ONCE per process
# and reuses the ort session across every inference call
# (localizer_engine.py:25-29, recognizer_engine.py:23-27). This is the
# same seam for a serialized npz encoder: load_projection(path) is a
# per-process singleton, so on a cluster each executor's Python worker
# pays the deserialize exactly once no matter how many Arrow batches it
# processes — tests/test_model_artifact.py proves the once-per-process
# property with a load counter and byte parity with the in-module weights.
_ARTIFACT_CACHE: dict[str, np.ndarray] = {}
_ARTIFACT_LOADS: dict[str, int] = {}


def load_projection(path: str) -> np.ndarray:
    """Per-process singleton loader for a serialized encoder artifact:
    npz with keys `projection` [256, D] float32, `crop_size`, `embed_dim`
    (written by tools/make_model_artifact.py). Validates the artifact
    against the active tensor configuration — a 64-dim artifact refuses
    to load into an EFFOCR_EMBED_DIM=768 run instead of silently
    mis-projecting."""
    m = _ARTIFACT_CACHE.get(path)
    if m is None:
        with np.load(path) as z:
            m = np.ascontiguousarray(z["projection"].astype(np.float32))
            crop_size = int(z["crop_size"])
            embed_dim = int(z["embed_dim"])
        from ..functions.crops import CROP_SIZE
        if crop_size != CROP_SIZE or embed_dim != EMBED_DIM:
            raise ValueError(
                f"artifact {path} was exported for crop_size={crop_size}/"
                f"embed_dim={embed_dim}, but this run is {CROP_SIZE}/"
                f"{EMBED_DIM}")
        if m.shape != (_POOL * _POOL, EMBED_DIM):
            raise ValueError(f"artifact projection shape {m.shape} != "
                             f"({_POOL * _POOL}, {EMBED_DIM})")
        _ARTIFACT_CACHE[path] = m
        _ARTIFACT_LOADS[path] = _ARTIFACT_LOADS.get(path, 0) + 1
    return m


def artifact_load_count(path: str) -> int:
    """How many times this process actually deserialized `path` (test
    hook for the once-per-executor property)."""
    return _ARTIFACT_LOADS.get(path, 0)


def encode_features(batch: np.ndarray) -> np.ndarray:
    """[B, 3, S, S] normalized crops → [B, 256] pooled pre-projection
    features (channel-mean → mean-pool to the 16x16 grid). Every op is
    row-independent, so computing this per shape group and concatenating
    is bitwise-identical to one full-batch call — the property the fused
    transform path (functions/recognize._features_batched) relies on."""
    b = batch.shape[0]
    if b == 0:
        return np.zeros((0, _POOL * _POOL), dtype=np.float32)
    x = batch.mean(axis=1)  # [B, S, S]
    side = x.shape[1]
    assert side % _POOL == 0, "encoder expects crop side divisible by 16"
    k = side // _POOL
    pooled = x.reshape(b, _POOL, k, _POOL, k).mean(axis=(2, 4))  # [B,16,16]
    return pooled.reshape(b, _POOL * _POOL).astype(np.float32)


def project_features(feats: np.ndarray) -> np.ndarray:
    """[B, 256] pooled features → [B, EMBED_DIM] raw embeddings, one
    GEMM over the batch. The result does depend on the batch size: a
    one-row product goes to a different BLAS kernel, which rounds
    differently (3,000 random rows projected one per call differ from
    one 3,000-row call in 173,529 of 192,000 floats; 2- to 1024-row
    calls match it). embed_crops therefore projects a one-crop batch as
    a two-row product."""
    return feats @ _PROJ


def encode_crops(batch: np.ndarray) -> np.ndarray:
    """[B, 3, 224, 224] normalized crops → [B, EMBED_DIM] raw embeddings.

    Channel-mean → 14x14 mean-pool to 16x16 grid → seeded linear
    projection. NOT L2-normalized here: the caller normalizes, mirroring
    the reference seam (infer_effocr_onnx_multi.py:371 normalizes the raw
    ONNX output).
    """
    if batch.shape[0] == 0:
        return np.zeros((0, EMBED_DIM), dtype=np.float32)
    return project_features(encode_features(batch))
