"""K2 COCO sink: span emission from the real pipeline, entry-builder
parity with utils/coco_utils.py:12-45, and the write → read round-trip
(infer_effocr.py:558-577 document shape)."""

import json

from pyspark.sql import functions as F

from effocr_spark.operators.coco_sink import (
    CATEGORIES,
    coco_json_lines,
    extraction_spans,
    write_coco_json,
)
from effocr_spark.operators.extract import is_image_page
from effocr_spark.pipeline import extract_pages
from effocr_spark.synth.pages import pages_df


def _spans(spark, protos_bc, n=40):
    pages, _ = pages_df(spark, n, seed=42)
    image_pages = pages.filter(is_image_page(F.col("html")))
    res = extract_pages(image_pages, protos_bc, emit_boxes=True)
    return res, extraction_spans(res)


def test_spans_parallel_to_text(spark, protos_bc):
    """Boxes and chars arrays are parallel, chars joined == the page
    transcription stripped of spaces/newlines (the reference's assert:
    len(nn_output)==len(char_boxes)==len(output.replace(' ','')),
    infer_effocr.py:557)."""
    res, spans = _spans(spark, protos_bc)
    rows = res.filter(F.col("ok")).collect()
    assert rows
    for r in rows:
        assert len(r["boxes"]) == len(r["chars"])
        flat = (r["extracted_text"] or "").replace(" ", "").replace("\n", "")
        assert "".join(r["chars"]) == flat
        for x, y, w, h in r["boxes"]:
            assert 0 <= x <= r["width"] and 0 <= y <= r["height"]
            assert w > 0 and h > 0
            assert x + w <= r["width"] and y + h <= r["height"]


def test_emit_boxes_on_mixed_frame(spark, protos_bc):
    """extract_pages(emit_boxes=True) over image, HTML and text-PDF
    rows: image rows carry boxes/chars parallel to their text,
    born-digital rows carry their text layer with 0x0 dims and empty
    arrays, and every row's other columns equal the plain pass."""
    from effocr_spark.functions.domstrip import strip_html
    from effocr_spark.functions.pdftext import extract_pdf_text
    from effocr_spark.synth.pdfgen import make_pdf

    pages, _ = pages_df(spark, 40, seed=42)
    pdf = make_pdf([["Born digital text", "second line"]])
    mixed = pages.unionByName(spark.createDataFrame(
        [("pdf://text/0", None, bytearray(pdf), None, "en")],
        pages.schema))
    boxed = {r["url"]: r for r in
             extract_pages(mixed, protos_bc, emit_boxes=True).collect()}
    plain = {r["url"]: r for r in extract_pages(mixed, protos_bc).collect()}
    assert boxed.keys() == plain.keys()
    assert {r["branch"] for r in boxed.values()} == {"ocr", "dom", "pdf"}

    cols = ["extracted_text", "n_chars", "ok", "error", "branch"]
    html = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    html["pdf://text/0"] = pdf
    for url, r in boxed.items():
        assert [r[c] for c in cols] == [plain[url][c] for c in cols], url
        if r["branch"] == "ocr":
            assert r["ok"] and r["width"] > 0 and r["height"] > 0, url
            assert len(r["boxes"]) == len(r["chars"]) > 0, url
            assert "".join(r["chars"]) == \
                r["extracted_text"].replace(" ", "").replace("\n", "")
        else:
            assert (r["width"], r["height"], r["boxes"], r["chars"]) \
                == (0, 0, [], []), url
            layer = (extract_pdf_text(html[url]) if r["branch"] == "pdf"
                     else strip_html(html[url]))
            assert r["extracted_text"] == layer, url


def test_coco_document_round_trip(spark, protos_bc, tmp_path):
    """write_coco_json → json.load: skeleton keys, entry shapes, and
    every span present exactly once."""
    _, spans = _spans(spark, protos_bc)
    path = str(tmp_path / "inference_coco.json")
    write_coco_json(spans, path)
    with open(path) as f:
        doc = json.load(f)
    assert set(doc) == {"info", "licenses", "images", "annotations",
                        "categories"}
    assert doc["categories"] == CATEGORIES
    span_rows = spans.collect()
    assert len(doc["annotations"]) == len(span_rows)
    assert len(doc["images"]) == len({r["url"] for r in span_rows})

    # image entries: coco_utils.py:30-45 text variant
    im = doc["images"][0]
    assert set(im) == {"file_name", "height", "width", "id", "text"}

    # annotation entries: coco_utils.py:12-27 text variant, exact fields
    by_key = {(a["image_id"], a["id"]): a for a in doc["annotations"]}
    assert len(by_key) == len(doc["annotations"])  # ids unique
    img_by_id = {i["id"]: i for i in doc["images"]}
    for r in span_rows:
        a = by_key[(r["image_id"], r["anno_id"])]
        x, y, w, h = r["x"], r["y"], r["w"], r["h"]
        assert a["bbox"] == [x, y, w, h]
        assert a["segmentation"] == [[x, y, x + w, y, x + w, y + h, x, y + h]]
        assert a["area"] == w * h
        assert a["iscrowd"] == 0 and a["score"] == 1.0
        assert a["category_id"] == 0
        assert a["text"] == r["text"]
        assert img_by_id[a["image_id"]]["file_name"] == r["url"]


def test_coco_json_lines_distributed_sink(spark, protos_bc, tmp_path):
    """The scale sink: JSONL fragments parse back to the same spans."""
    _, spans = _spans(spark, protos_bc, n=30)
    out = str(tmp_path / "jsonl")
    coco_json_lines(spans).write.mode("overwrite").text(out)
    back = spark.read.json(out)
    n_imgs = back.count()
    assert n_imgs == spans.select("image_id").distinct().count()
    annos = back.select(F.explode("annotations").alias("a")) \
        .select(F.col("a.image_id"), F.col("a.bbox"), F.col("a.text"))
    got = {(r["image_id"], tuple(r["bbox"]), r["text"])
           for r in annos.collect()}
    want = {(r["image_id"], (r["x"], r["y"], r["w"], r["h"]), r["text"])
            for r in spans.collect()}
    assert got == want


def test_spans_vertical_offsets(spark, protos_bc):
    """Vertical (jp) pages: column-strip x-offsets put boxes back in
    page space (right-to-left columns → distinct x ranges)."""
    pages, _ = pages_df(spark, 60, seed=42)
    jp = pages.filter(is_image_page(F.col("html"))
                      & (F.col("lang") == "jp"))
    if jp.count() == 0:
        return  # fixture draw has no jp image pages at this n
    res = extract_pages(jp, protos_bc, emit_boxes=True)
    for r in res.filter(F.col("ok")).collect():
        for x, y, w, h in r["boxes"]:
            assert 0 <= x and x + w <= r["width"]
            assert 0 <= y and y + h <= r["height"]
