"""Recognition kernels: embedding, kNN lookup, prototype index build.

 - `embed_crops`: transform + encoder + L2-normalize
   (infer_effocr_onnx_multi.py:327-371 semantics, minus
   the thread pools — Arrow batches replace them)
 - `knn_lookup`: brute-force inner-product argmax against the prototype
   matrix — exact FAISS IndexFlatIP semantics, ties → lowest index
   (infer_effocr_onnx_multi.py:372-375,496-505); the
   prototype matrix is small (K chars × 64 floats), so at cluster scale it
   ships as a broadcast variable, never a join
 - `build_prototypes`: render each charset glyph alone and push it through
   the *identical* inference path, the analog of building ref.index from
   NotoSerif renders (train_effocr_recognizer.py:47-62)
"""

from __future__ import annotations

import numpy as np

from ..synth import model as synthmodel
from ..synth.font import EN_CHARSET, JP_CHARSET, render_line
from . import boxes as boxes_fn
from . import crops as crops_fn

ZERO_CROP = np.zeros((3, crops_fn.CROP_SIZE, crops_fn.CROP_SIZE), dtype=np.float32)

# Minimum canvas long-side for prototype renders: guarantees the reference
# scale-back geometry (x * im_width / 640) is exact for the prototype crop
# just as it is for real (wide) line images.
_PROTO_PAD = 64


def _transform_batched(crops: list[np.ndarray | None]) -> np.ndarray:
    """paired_transform over a crop list, vectorized by (h, w) shape
    group: crops of identical shape share one pad+resize+normalize pass.
    Elementwise ops on a stacked array are bit-identical to the per-crop
    path (same constants, same dtypes), so byte-parity with the oracle's
    per-crop transform is preserved — tests assert it."""
    size = crops_fn.CROP_SIZE
    out = np.empty((len(crops), 3, size, size), dtype=np.float32)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, c in enumerate(crops):
        if c is None:
            out[i] = ZERO_CROP
        else:
            groups.setdefault(c.shape[:2], []).append(i)
    for (h, w), idxs in groups.items():
        side = max(h, w)
        stack = np.full((len(idxs), side, side, 3), 255, dtype=np.uint8)
        # one C-level bulk copy per shape group instead of a Python
        # assignment per crop (the fill loop was >half the per-page
        # transform cost at fixture sizes)
        stack[:, :h, :w, :] = np.asarray([crops[i] for i in idxs])
        ys = np.minimum((np.arange(size) * side) // size, side - 1)
        xs = ys  # square: identical index vector
        # normalize the SMALL padded crop first, then nearest-neighbor
        # gather once into the output slot: elementwise normalize commutes
        # bitwise with a pure gather (f(x)[idx] == f(x[idx])), and this
        # touches the big [n,3,S,S] tensor exactly once instead of ~6
        # passes — at reference tensor size (S=224) the transform is
        # memory-bandwidth-bound and this is the difference between
        # scaling and thrashing (see BENCH/BASELINE.md real-tensor table)
        small = stack.astype(np.float32) / 255.0
        small -= crops_fn.IMAGENET_MEAN
        small /= crops_fn.IMAGENET_STD
        # CHW-contiguous copy of the small crop (one tiny pass) so the
        # resize below streams from contiguous memory; the resize itself
        # is pure data movement, so any faster spelling is bitwise-
        # identical to the naive gather by construction
        smallt = np.ascontiguousarray(small.transpose(0, 3, 1, 2))
        if side < size:
            # upsample: ys is monotonic, so arr[ys] == repeat(arr, counts)
            # — np.repeat runs at memcpy speed where the fancy gather
            # from a strided view ran element-wise (measured 7.5x: 0.5 →
            # 3.8 GB/s at 18px→224px, tools/bench_roofline.py)
            counts = np.bincount(ys, minlength=side)
            out[idxs] = np.repeat(np.repeat(smallt, counts, axis=2),
                                  counts, axis=3)
        else:
            # downsample: the gather touches only size² source pixels
            out[idxs] = smallt[:, :, ys[:, None], xs[None, :]]
    return out


def _features_batched(crops: list[np.ndarray | None]) -> np.ndarray:
    """Fused transform+feature kernel, bitwise-identical to
    `encode_features(_transform_batched(crops))` without materializing
    the [B, 3, S, S] tensor. Per (h, w) shape group, on the white-padded
    side x side uint8 square:

    - side >= CROP_SIZE: sample the CROP_SIZE² nearest-neighbour pixels
      first, still in uint8, then normalize only those samples;
    - side < CROP_SIZE: normalize the small square, channel-mean it and
      expand the plane with np.repeat.

    Both are exact because normalize and channel-mean are per-pixel maps
    and the resize is a pure selection (f(x)[idx] == f(x[idx])). The
    channel mean is `(c0 + c1) + c2`, then `/ float32(3)`: the order in
    which `batch.mean(axis=1)` accumulates over [B, 3, S, S], computed
    with elementwise ufuncs rather than a reduction over the 3-long
    channel axis. The 16x16 mean-pool runs only when
    k = CROP_SIZE // 16 > 1; a mean over one element is exact.
    encode_features is row-independent, so per-group evaluation
    concatenates exactly.
    tests/test_batched_transform.py pins the equivalence at CROP_SIZE
    16, 32 and 224."""
    size = crops_fn.CROP_SIZE
    pool = synthmodel._POOL
    k = size // pool
    feats = np.empty((len(crops), pool * pool), dtype=np.float32)
    groups: dict[tuple[int, int], list[int]] = {}
    zero_rows = []
    for i, c in enumerate(crops):
        if c is None:
            zero_rows.append(i)
        else:
            groups.setdefault(c.shape[:2], []).append(i)
    if zero_rows:
        feats[zero_rows] = synthmodel.encode_features(ZERO_CROP[None])[0]
    for (h, w), idxs in groups.items():
        b, side = len(idxs), max(h, w)
        group = np.asarray([crops[i] for i in idxs])
        ys = np.minimum((np.arange(size) * side) // size, side - 1)
        if side >= size:
            # ys is monotonic, so the samples that land inside the crop
            # are its top-left nh x nw block; the rest are white padding
            nh, nw = np.searchsorted(ys, (h, w))
            sq = np.full((b, size, size, 3), 255, dtype=np.uint8)
            sq[:, :nh, :nw] = np.take(np.take(group, ys[:nh], axis=1),
                                      ys[:nw], axis=2)
        else:
            sq = np.full((b, side, side, 3), 255, dtype=np.uint8)
            sq[:, :h, :w] = group
        plane = _normalized_channel(sq, 0) + _normalized_channel(sq, 1)
        plane += _normalized_channel(sq, 2)
        plane /= np.float32(3)
        if side < size:
            counts = np.bincount(ys, minlength=side)
            plane = np.repeat(np.repeat(plane, counts, axis=1), counts,
                              axis=2)
        if k > 1:
            plane = plane.reshape(b, pool, k, pool, k).mean(axis=(2, 4))
        feats[idxs] = plane.reshape(b, pool * pool)
    return feats


def _normalized_channel(sq: np.ndarray, c: int) -> np.ndarray:
    """Channel c of [B, H, W, 3] uint8 pixels → [B, H, W] float32,
    ImageNet-normalized with the same float32 ops as paired_transform.
    One scalar per pass: broadcasting the 3-long mean/std over the
    inner axis runs ~8x slower."""
    x = sq[..., c].astype(np.float32)
    x /= 255.0
    x -= crops_fn.IMAGENET_MEAN[c]
    x /= crops_fn.IMAGENET_STD[c]
    return x


def embed_crops(crops: list[np.ndarray | None],
                normalize: bool = True,
                projection: np.ndarray | None = None) -> np.ndarray:
    """List of HxWx3 uint8 crops (None → zero tensor, mirroring
    create_batches' zero-fill, infer_effocr_onnx_multi.py:150-152) →
    [B, D] embeddings. L2-normalized for the kNN recognizer
    (infer_effocr_onnx_multi.py:371); raw logits-path embeddings for the
    FFNN classifier head (infer_effocr.py:325-333 skips normalization).

    Hot path: the fused feature kernel + ONE full-batch projection GEMM
    (bitwise-equal to transform→encode, see _features_batched). A real
    ONNX recognizer drops in by replacing this body with
    `_transform_batched(crops)` → session.run — the standard-contract
    transform is kept tested for exactly that.

    projection: weights from a serialized model artifact
    (synthmodel.load_projection — the per-executor-singleton npz path);
    None uses the in-module seeded weights. Same GEMM either way."""
    if not crops:
        dim = (projection.shape[1] if projection is not None
               else synthmodel.EMBED_DIM)
        return np.zeros((0, dim), dtype=np.float32)
    feats = _features_batched(crops)
    n = feats.shape[0]
    if n == 1:
        # a one-row GEMM takes a BLAS kernel that rounds differently;
        # project two copies so a lone crop matches its row in a batch
        feats = np.concatenate([feats, feats])
    emb = (feats @ projection if projection is not None
           else synthmodel.project_features(feats))[:n]
    if not normalize:
        return emb.astype(np.float32)
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return (emb / norms).astype(np.float32)


def knn_lookup(embeddings: np.ndarray, prototypes: np.ndarray) -> np.ndarray:
    """[B,D] queries × [K,D] prototypes → [B] argmax indices (k=1 exact
    inner-product kNN; np.argmax tie-break = lowest index, matching FAISS
    IndexFlatIP first-hit). The k>1 generalization is `knn_topk`.
    On raw (un-normalized) embeddings the same argmax is the FFNN
    classifier head over linear logits (infer_effocr.py:325-333): the
    synthetic head's weight matrix is the prototype matrix."""
    return knn_lookup_sim(embeddings, prototypes)[0]


def knn_topk(embeddings: np.ndarray, prototypes: np.ndarray,
             k: int = 10,
             exclude_self: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """[B,D] queries × [K,D] prototypes → ([B,k] indices, [B,k] scores),
    exact inner-product kNN sorted by score desc, ties → lowest index
    (stable argsort of -sims — FAISS IndexFlatIP ordering).

    Reference analogs: the GPU path retrieves k=10 and uses the top hit
    (infer_effocr.py:317-319); hard-negative mining takes
    the k=8 nearest OTHER prototypes
    (train_effocr_recognizer.py:25-44) — that is
    `exclude_self=True` over the square self-similarity (requires B==K;
    row i's own column is masked to -inf before ranking).

    Bit-equal prototype rows are collapsed before the GEMM and their
    score columns re-expanded in index order, so identical prototypes
    tie exactly on any BLAS (a GEMM may round two identical columns
    differently, which would make "ties → lowest index" host-dependent).
    """
    if embeddings.shape[0] == 0:
        return (np.zeros((0, k), dtype=np.int64),
                np.zeros((0, k), dtype=np.float32))
    uniq, inv = np.unique(prototypes, axis=0, return_inverse=True)
    sims = (embeddings @ uniq.T)[:, inv.ravel()]
    if exclude_self:
        if sims.shape[0] != sims.shape[1]:
            raise ValueError("exclude_self requires queries == prototypes")
        np.fill_diagonal(sims, -np.inf)
    k = min(k, sims.shape[1])
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    scores = np.take_along_axis(sims, order, axis=1)
    return order.astype(np.int64), scores  # scores keep the input dtype


def _prototype_crop(ch: str, vertical: bool) -> np.ndarray | None:
    """Render a single glyph and extract its crop via the full inference
    path (head → NMS → scale-back), on a canvas padded so the long side is
    the scan axis — the same geometry regime as real line images."""
    img, _, _ = render_line(ch, vertical=vertical)
    h, w = img.shape
    if not vertical and w < max(h + 1, _PROTO_PAD):
        pad = np.full((h, max(h + 1, _PROTO_PAD) - w), 255, dtype=np.uint8)
        img = np.concatenate([img, pad], axis=1)
    elif vertical and h < max(w + 1, _PROTO_PAD):
        pad = np.full((max(w + 1, _PROTO_PAD) - h, img.shape[1]), 255,
                      dtype=np.uint8)
        img = np.concatenate([img, pad], axis=0)
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    head = synthmodel.synthetic_yolo_head(rgb, vertical=vertical)
    det = boxes_fn.non_max_suppression(head)
    det = det[det[:, 5] == synthmodel.CLS_CHAR]
    if det.shape[0] == 0:
        return None
    crop = crops_fn.extract_crops(rgb, det[:, :4], vertical=vertical)[0]
    return crop


def build_prototypes(lang: str = "en", encoder_artifact: str | None = None):
    """→ (chars list[str], [K, D] float32 L2-normalized prototype matrix).

    Driver-side, tiny (K ≤ ~70); broadcast to executors at run time.
    encoder_artifact: serialized npz encoder path (queries and index must
    share an embedding space, so the pipeline passes the same path here
    and to the extraction stage).
    """
    charset = EN_CHARSET if lang == "en" else JP_CHARSET
    vertical = lang == "jp"
    chars, crops = [], []
    for ch in charset:
        crop = _prototype_crop(ch, vertical)
        if crop is None:
            continue
        chars.append(ch)
        crops.append(crop)
    proj = (synthmodel.load_projection(encoder_artifact)
            if encoder_artifact else None)
    protos = embed_crops(crops, projection=proj)
    return chars, protos


def build_word_prototypes(words: list[str],
                          encoder_artifact: str | None = None):
    """Word-level recognizer bank: → (words, [K, D] float32 L2-normalized
    matrix of whole-word crop embeddings).

    The north-star's word stream: EffOCR's word-level variant recognizes
    whole word crops by kNN against a prototype index of rendered
    vocabulary words, merged with the char stream by silver correction
    (the reference repo's released CPU path keeps word boxes for spacing
    only — infer_effocr_onnx_multi.py:70-90 — so this extends it to the
    paper's two-stream design). Driver-side, broadcast alongside the
    char prototypes; K = vocabulary size (hundreds-to-thousands of rows
    × D floats — always a broadcast, never a join side)."""
    kept, crops = [], []
    for w in words:
        crop = _word_prototype_crop(w)
        if crop is None:
            continue
        kept.append(w)
        crops.append(crop)
    proj = (synthmodel.load_projection(encoder_artifact)
            if encoder_artifact else None)
    return kept, embed_crops(crops, projection=proj)


def _word_prototype_crop(word: str) -> np.ndarray | None:
    """Render the word and crop it through the SAME detector→crop path
    the extraction stage uses (head → NMS → CLS_WORD box →
    extract_crops), so prototype and query embeddings share crop
    geometry exactly — the word analog of _prototype_crop."""
    img, _, _ = render_line(word)
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    det = boxes_fn.non_max_suppression(
        synthmodel.synthetic_yolo_head(rgb, vertical=False),
        conf_thres=0.35, iou_thres=0.01, max_det=1000)
    det = det[det[:, 5] == synthmodel.CLS_WORD]
    if det.shape[0] == 0:
        return None
    det = det[np.argsort(det[:, 0], kind="stable")]
    return crops_fn.extract_crops(rgb, det[:1, :4], vertical=False)[0]


def knn_lookup_sim(embeddings: np.ndarray, prototypes: np.ndarray):
    """knn_lookup + the winning score: → (idx [B], sim [B] float32).
    With both sides L2-normalized the inner product IS the cosine; the
    word stream needs it to gate silver correction. The one GEMM +
    argmax behind both recognizer streams."""
    if embeddings.shape[0] == 0:
        return np.zeros((0,), np.int64), np.zeros((0,), np.float32)
    # bit-equal prototype rows collapse to their first occurrence before
    # the GEMM (as in knn_topk): BLAS may round two identical columns
    # differently depending on how many query rows share the call, which
    # made a crop's label depend on its batch size. Distinct rows stay in
    # index order, so argmax's first hit is still the lowest index. Rows
    # compare as raw bytes (np.unique(axis=0) costs ~20x more per call).
    protos = np.ascontiguousarray(prototypes)
    rows = protos.view(np.dtype((np.void, protos[0].nbytes)))[:, 0]
    _, first = np.unique(rows, return_index=True)
    first.sort()
    scores = embeddings @ protos[first].T
    col = np.argmax(scores, axis=1)
    return (first[col],
            scores[np.arange(scores.shape[0]), col].astype(np.float32))
