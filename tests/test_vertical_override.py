"""--vertical flag parity: orientation forced independently of language
(reference CLI, infer_effocr_onnx_multi.py:429). en-vertical lines have
no word detections → None (same on both paths); jp-horizontal is a
deterministic degenerate (prototypes are vertical-geometry) — parity
still byte-exact."""

import pandas as pd
import pytest

from effocr_spark import oracle
from effocr_spark.operators.extract import make_ocr_map_fn
from effocr_spark.synth.font import render_line
from effocr_spark.synth.imgcodec import encode_png


class _FakeBC:
    def __init__(self, v):
        self.value = v


def _run_udf(prototypes, rows, **kw):
    fn = make_ocr_map_fn(_FakeBC(prototypes), **kw)
    pdf = pd.DataFrame(rows, columns=["url", "html", "lang"])
    pdf["image_page"], pdf["has_images"] = True, False
    out = {}
    for res in fn(iter([pdf])):
        for _, r in res.iterrows():
            out[r["url"]] = r["extracted_text"]
    return out


def test_en_vertical_parity(prototypes):
    txt = "abc"
    png = encode_png(render_line(txt, vertical=True)[0])
    got = _run_udf(prototypes, [("u", png, "en")], vertical_override=True)
    exp = oracle.run_reference_extraction(
        [("u", png)], *prototypes["en"], lang="en", vertical=True)
    assert got["u"] == exp["u"]


def test_jp_horizontal_parity(prototypes):
    txt = "あいうえ"
    png = encode_png(render_line(txt, vertical=False)[0])
    got = _run_udf(prototypes, [("u", png, "jp")], vertical_override=False)
    exp = oracle.run_reference_extraction(
        [("u", png)], *prototypes["jp"], lang="jp", vertical=False)
    assert got["u"] == exp["u"]
