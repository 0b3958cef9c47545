"""Recognizer-dataset ETL: crops labeled in reading order, arity
quarantine, render union (format_effocr_recognizer_dataset.py parity)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from effocr_spark.operators.etl_recognizer import build_recognizer_dataset
from effocr_spark.synth.font import glyph_bitmap, glyph_metrics, render_line
from effocr_spark.synth.imgcodec import decode_png, encode_png

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def fixtures(spark):
    texts = ["The dog", "quick fox", "lazy 99"]
    img_rows, anno_rows = [], []
    aid = 0
    for i, t in enumerate(texts):
        img, char_boxes, _ = render_line(t)
        img_rows.append((i, bytearray(encode_png(img)), t))
        for (x0, y0, x1, y1) in char_boxes:
            anno_rows.append((aid, i, 0, [x0, y0, x1 - x0, y1 - y0]))
            aid += 1
    # one broken page: annotation count != text length → quarantined
    img, char_boxes, _ = render_line("ab")
    img_rows.append((99, bytearray(encode_png(img)), "abc"))
    for (x0, y0, x1, y1) in char_boxes:
        anno_rows.append((aid, 99, 0, [x0, y0, x1 - x0, y1 - y0]))
        aid += 1
    images = spark.createDataFrame(img_rows, "id long, png binary, text string")
    annos = spark.createDataFrame(
        anno_rows, "id long, image_id long, category_id int, bbox array<int>")
    return texts, images, annos


def test_dataset_contents(spark, fixtures):
    texts, images, annos = fixtures
    ds = build_recognizer_dataset(spark, images, annos, "abc")
    rows = ds.collect()
    paired = [r for r in rows if r["source"] == "paired"]
    renders = [r for r in rows if r["source"] == "render"]

    # paired: one crop per non-space char of the VALID pages only
    expected_chars = sorted(ord(c) for t in texts for c in t if c != " ")
    assert sorted(r["codepoint"] for r in paired) == expected_chars

    # crop pixels == the glyph's rendered ink box
    by_cp = {}
    for r in paired:
        by_cp.setdefault(r["codepoint"], []).append(r)
    for cp, rs in by_cp.items():
        ch = chr(cp)
        w, top, bot = glyph_metrics(ch)
        exp = np.where(glyph_bitmap(ch)[top:bot], 0, 255).astype(np.uint8)
        got = decode_png(bytes(rs[0]["image"]))
        assert np.array_equal(got[:, :, 0], exp), ch

    # renders: one per charset char
    assert sorted(r["codepoint"] for r in renders) == [ord(c) for c in "abc"]


def test_hard_negatives(spark, prototypes):
    from effocr_spark.operators.etl_recognizer import hard_negatives

    chars, protos = prototypes["en"]
    df = hard_negatives(spark, chars, protos, k=3)
    rows = {r["char"]: r["negatives"] for r in df.collect()}
    assert len(rows) == len(chars)
    for c, negs in rows.items():
        assert len(negs) == 3
        assert c not in negs  # self excluded
    # deterministic
    rows2 = {r["char"]: r["negatives"]
             for r in hard_negatives(spark, chars, protos, k=3).collect()}
    assert rows == rows2


def test_prototype_bank_duplicates_tie_lowest_index_first(prototypes):
    """The synthetic font draws '('/')' and '?'/'/' as identical boxes,
    so those en prototype rows are bit-equal — and they are the only
    ones; a new glyph collision fails here instead of silently
    reordering the hard_negatives golden. knn_topk scores each pair
    from one GEMM column, so the pair ties exactly and ranks lowest
    index first, adjacent, on any BLAS."""
    from effocr_spark.functions.recognize import knn_topk

    chars, protos = prototypes["en"]
    _, inv = np.unique(protos, axis=0, return_inverse=True)
    inv = inv.ravel()
    groups = [np.flatnonzero(inv == g) for g in np.unique(inv)]
    groups = [g for g in groups if len(g) > 1]
    assert sorted(tuple(chars[i] for i in g) for g in groups) == \
        [("(", ")"), ("?", "/")]

    order, scores = knn_topk(protos, protos, k=len(chars),
                             exclude_self=True)
    for lo, hi in groups:
        for i in range(len(chars)):
            if i in (lo, hi):
                continue
            pos = list(order[i])
            assert pos.index(hi) == pos.index(lo) + 1, chars[i]
            assert scores[i][pos.index(lo)] == scores[i][pos.index(hi)]


def test_quarantined_page_excluded(spark, fixtures):
    texts, images, annos = fixtures
    ds = build_recognizer_dataset(spark, images, annos, "a")
    # chars from image 99 ('abc' with 2 annos) must not appear as paired
    n_paired = ds.filter("source = 'paired'").count()
    assert n_paired == sum(len(t.replace(" ", "")) for t in texts)


def test_charset_tab_file_source(spark, tmp_path):
    """S5: the reference's tab-separated charset files read through
    spark.read.text (load_chars parity: char = last tab field), plus the
    union+except harmonization and decimal-codepoint save format."""
    from effocr_spark.operators.etl_recognizer import (
        harmonize_charset, load_charset, save_charset)
    from effocr_spark.synth.font import EN_CHARSET

    chars = load_charset(spark, os.path.join(ROOT, "data", "charset_en.txt"))
    assert chars == sorted(set(EN_CHARSET))

    # multiple files union; multi-field lines keep the LAST field
    f1 = tmp_path / "a.txt"
    f1.write_text("0061\ta\n0062\tb\n", encoding="utf-8")
    f2 = tmp_path / "b.txt"
    f2.write_text("id\tname\tb\nid2\tname2\tc\n", encoding="utf-8")
    got = load_charset(spark, [str(f1), str(f2)])
    assert got == ["a", "b", "c"]

    # jp-path harmonization shape (:371-382)
    full = harmonize_charset(got, extra="09", remove="b")
    assert full == ["0", "9", "a", "c"]

    out = tmp_path / "full_charset.txt"
    save_charset(full, str(out))
    assert out.read_text() == "\n".join(str(ord(c)) for c in full)
