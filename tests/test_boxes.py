"""NMS + box geometry goldens and parity with the loop-based oracle NMS.

Reference semantics: /root/reference/onnx_engines/localizer_engine.py
:140-148 (xywh2xyxy), :150-169 (IoU), :171-277 (non_max_suppression).
"""

import numpy as np

from effocr_spark.functions import boxes as B
from effocr_spark.oracle import oracle_nms


def head_row(cx, cy, w, h, obj, c0, c1):
    return [cx, cy, w, h, obj, c0, c1]


def test_xywh2xyxy():
    x = np.array([[10.0, 20.0, 4.0, 6.0]])
    y = B.xywh2xyxy(x)
    assert np.allclose(y, [[8, 17, 12, 23]])


def test_iou_identity_and_disjoint():
    a = np.array([[0, 0, 10, 10.0]])
    b = np.array([[0, 0, 10, 10.0], [20, 20, 30, 30.0]])
    iou = B.box_iou(a, b)[0]
    assert abs(iou[0] - 1.0) < 1e-5
    assert iou[1] == 0.0


def test_iom_envelope():
    small = np.array([[2, 2, 4, 4.0]])
    big = np.array([[0, 0, 10, 10.0]])
    assert abs(B.box_iom(small, big)[0, 0] - 1.0) < 1e-5


def test_nms_conf_filter():
    pred = np.array([
        head_row(10, 10, 4, 4, 0.9, 0.9, 0.1),
        head_row(30, 10, 4, 4, 0.1, 0.9, 0.1),  # below conf 0.35 → dropped
    ], dtype=np.float32)
    out = B.non_max_suppression(pred, conf_thres=0.35, iou_thres=0.01)
    assert out.shape[0] == 1
    # conf = obj * cls = 0.81
    assert abs(out[0, 4] - 0.81) < 1e-5
    assert out[0, 5] == 0


def test_nms_suppresses_overlap_keeps_best():
    pred = np.array([
        head_row(10, 10, 8, 8, 0.9, 0.95, 0.05),
        head_row(11, 10, 8, 8, 0.6, 0.95, 0.05),  # overlapping dup, lower conf
        head_row(30, 10, 8, 8, 0.8, 0.95, 0.05),  # disjoint → kept
    ], dtype=np.float32)
    out = B.non_max_suppression(pred, conf_thres=0.35, iou_thres=0.01)
    assert out.shape[0] == 2
    # kept in conf-desc order
    assert out[0, 4] > out[1, 4]
    xs = sorted(out[:, 0].tolist())
    assert abs(xs[0] - 6.0) < 1e-4 and abs(xs[1] - 26.0) < 1e-4


def test_nms_class_offset_no_cross_class_suppression():
    # identical box, different classes → both survive (char vs word)
    pred = np.array([
        head_row(10, 10, 8, 8, 0.9, 0.95, 0.05),
        head_row(10, 10, 8, 8, 0.8, 0.05, 0.95),
    ], dtype=np.float32)
    out = B.non_max_suppression(pred, conf_thres=0.35, iou_thres=0.01)
    assert out.shape[0] == 2
    assert set(out[:, 5].astype(int).tolist()) == {0, 1}


def test_nms_max_det():
    rows = [head_row(10 + 20 * i, 10, 4, 4, 0.9 - i * 1e-4, 0.9, 0.1)
            for i in range(20)]
    out = B.non_max_suppression(np.array(rows, dtype=np.float32), max_det=5)
    assert out.shape[0] == 5
    # the 5 highest-confidence survivors
    assert np.all(np.diff(out[:, 4]) <= 0)


def test_nms_empty():
    out = B.non_max_suppression(np.zeros((0, 7), dtype=np.float32))
    assert out.shape == (0, 6)


def test_vectorized_nms_matches_oracle_on_random_heads():
    rng = np.random.RandomState(1234)
    for trial in range(25):
        n = rng.randint(1, 60)
        cx = rng.uniform(0, 600, n)
        cy = rng.uniform(0, 600, n)
        w = rng.uniform(2, 50, n)
        h = rng.uniform(2, 50, n)
        obj = rng.uniform(0, 1, n)
        c0 = rng.uniform(0, 1, n)
        pred = np.stack([cx, cy, w, h, obj, c0, 1 - c0], axis=1).astype(np.float32)
        a = B.non_max_suppression(pred, conf_thres=0.35, iou_thres=0.2)
        b = oracle_nms(pred, conf_thres=0.35, iou_thres=0.2)
        assert a.shape == b.shape, trial
        assert np.allclose(a, b, atol=1e-5), trial


def test_knn_lookup_duplicate_prototypes_tie_at_any_batch_size(prototypes):
    """The en bank has bit-equal rows ('?'/'/' and '('/')'). A query
    near one of them must get the lower index whether it is looked up
    alone, in a pair or inside a 64-row call: a plain GEMM rounded the
    two identical columns differently for one- and two-row calls."""
    import numpy as np
    from effocr_spark.functions.recognize import knn_lookup

    chars, mat = prototypes["en"]
    rng = np.random.RandomState(5)
    for lo, hi in (("?", "/"), ("(", ")")):
        i, j = chars.index(lo), chars.index(hi)
        assert i < j and np.array_equal(mat[i], mat[j])
        q = mat[i] + rng.normal(0, 0.05, (1024, mat.shape[1]))
        q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
        by_64 = np.concatenate([knn_lookup(q[s: s + 64], mat)
                                for s in range(0, len(q), 64)])
        assert j not in by_64
        assert (by_64 == i).mean() > 0.9
        for n in (1, 2):
            got = np.concatenate([knn_lookup(q[s: s + n], mat)
                                  for s in range(0, len(q), n)])
            assert np.array_equal(got, by_64), (lo, n)


def test_knn_topk_matches_numpy_oracle():
    """k>1 kNN kernel vs a plain argsort oracle, including tie handling
    (stable → lowest index first, FAISS IndexFlatIP ordering)."""
    import numpy as np
    from effocr_spark.functions.recognize import knn_lookup, knn_topk

    rng = np.random.RandomState(3)
    q = rng.standard_normal((17, 8)).astype(np.float32)
    p = rng.standard_normal((11, 8)).astype(np.float32)
    idx, sc = knn_topk(q, p, k=5)
    assert idx.shape == (17, 5) and sc.shape == (17, 5)
    sims = q @ p.T
    for i in range(17):
        want = np.argsort(-sims[i], kind="stable")[:5]
        assert list(idx[i]) == list(want)
        assert np.allclose(sc[i], sims[i][want], atol=1e-5)
    # k=1 column equals knn_lookup
    assert list(idx[:, 0]) == list(knn_lookup(q, p))
    # ties: identical prototypes → lowest index first (integer-valued
    # floats so the matmul is exact and the tie is bitwise real)
    q2 = rng.randint(-3, 4, (6, 8)).astype(np.float32)
    p2 = np.tile(rng.randint(-3, 4, (1, 8)).astype(np.float32), (3, 1))
    idx2, _ = knn_topk(q2, p2, k=3)
    assert (idx2 == [0, 1, 2]).all()
    # k larger than prototype count → clamped
    idx3, sc3 = knn_topk(q, p, k=99)
    assert idx3.shape == (17, 11)
    # exclude_self masks the diagonal (hard-negative mining shape)
    idx4, _ = knn_topk(p, p, k=3, exclude_self=True)
    assert all(i not in idx4[i] for i in range(11))
    # empty input
    e_idx, e_sc = knn_topk(np.zeros((0, 8), np.float32), p, k=4)
    assert e_idx.shape == (0, 4)
