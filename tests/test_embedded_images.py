"""Embedded images (north star: 'YOLO-style detector over rendered page
regions AND embedded images'): data-URI PNGs inside born-digital HTML
run through the standard OCR stage and fuse onto the page's DOM text
inside the page's own row."""

import base64

from pyspark.sql import functions as F

from effocr_spark.operators.extract import has_embedded_png, page_images
from effocr_spark.pipeline import extract_pages
from effocr_spark.synth.font import render_line
from effocr_spark.synth.imgcodec import encode_png


def _data_uri(text: str) -> str:
    png = encode_png(render_line(text)[0])
    return "data:image/png;base64," + base64.b64encode(png).decode()


def _page(url, body_text, images=(), junk_uri=False):
    imgs = "".join(f'<img src="{_data_uri(t)}">' for t in images)
    if junk_uri:
        imgs += '<img src="data:image/png;base64,!!!notbase64!!!">'
    html = (f"<html><body><div id='m'><p>{body_text}</p>{imgs}</div>"
            f"</body></html>").encode()
    return (url, None, bytearray(html), None, "en")


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")


def test_embedded_rows_explode(spark):
    df = _mk(spark, [
        _page("u1", "Body one here", images=["Hello world line",
                                             "Second image line"]),
        _page("u2", "No images in this one"),
        _page("u3", "Junk only", junk_uri=True),
    ])
    cand = df.filter(has_embedded_png(F.col("html")))
    assert cand.count() == 2  # u2 pre-filtered JVM-side
    blobs = {r["url"]: page_images(bytes(r["html"])) for r in cand.collect()}
    assert blobs["u1"] == [encode_png(render_line(t)[0])
                           for t in ("Hello world line", "Second image line")]
    assert all(b[:4] == b"\x89PNG" for b in blobs["u1"])
    assert blobs["u3"] == []  # the junk URI yields no image


def test_repeated_url_rows_keep_their_own_images(spark, protos_bc):
    """(url, warc_ts) is the table's key: two crawls of one url each
    fuse only their own embedded image, with their own n_chars."""
    import datetime as dt

    lines = ("farm house print line", "town gazette says")
    rows = [("u1", dt.datetime(2024, 1, 1 + i), _page("u1", "Own body",
                                                     images=[t])[2],
             None, "en") for i, t in enumerate(lines)]
    out = extract_pages(_mk(spark, rows), protos_bc,
                        embedded_images=True).collect()
    assert len(out) == 2
    got = set()
    for r in out:
        body, image_text = r["extracted_text"].split("\n")
        assert body == "Own body" and r["ok"] and r["branch"] == "dom"
        got.add((image_text.lower(), r["n_chars"]))
    assert got == {(t, len(t.replace(" ", ""))) for t in lines}


def test_fusion_appends_ocr_text_in_order(spark, protos_bc):
    df = _mk(spark, [
        _page("u1", "Body text of the page",
              images=["Farm house print line", "Town gazette says 1890"]),
        _page("u2", "Plain page body"),
    ])
    out = {r["url"]: r for r in
           extract_pages(df, protos_bc, embedded_images=True).collect()}
    assert out["u2"]["extracted_text"] == "Plain page body"
    fused = out["u1"]["extracted_text"]
    parts = fused.split("\n")
    assert parts[0] == "Body text of the page"
    assert parts[1].lower() == "farm house print line"
    assert parts[2].lower() == "town gazette says 1890"
    assert out["u1"]["branch"] == "dom" and out["u1"]["ok"]
    assert out["u1"]["n_chars"] > 0  # embedded crop count surfaced

    # default OFF: byte-identical to the plain DOM result
    off = {r["url"]: r["extracted_text"] for r in
           extract_pages(df, protos_bc).collect()}
    assert off["u1"] == "Body text of the page"


def test_fusion_partitioning_invariant(spark, protos_bc):
    """Same fused output at different salt/partitioning (the e2e
    byte-stability contract extends to the embedded path)."""
    df = _mk(spark, [
        _page(f"u{i}", f"Body {i} text",
              images=[f"Image line number {i}"] if i % 2 == 0 else [])
        for i in range(8)
    ])
    a = {r["url"]: r["extracted_text"] for r in
         extract_pages(df, protos_bc, embedded_images=True,
                       salt_partitions=2).collect()}
    b = {r["url"]: r["extracted_text"] for r in
         extract_pages(df.repartition(7), protos_bc, embedded_images=True,
                       salt_partitions=5).collect()}
    assert a == b


def test_embedded_branch_uses_encoder_artifact(spark, tmp_path):
    """The embedded-image OCR sub-branch must embed crops with the SAME
    encoder artifact the broadcast kNN index was built with. With a
    perturbed (non-default) projection on both sides, recognition still
    reads the line; if the embedded branch silently fell back to the
    in-module weights (the round-3 bug), query and index spaces
    diverge and the fused text garbles."""
    import numpy as np

    from effocr_spark.functions.crops import CROP_SIZE
    from effocr_spark.pipeline import broadcast_prototypes
    from effocr_spark.synth import model as synthmodel

    rng = np.random.RandomState(99)
    pert = synthmodel._PROJ + 0.35 * rng.standard_normal(
        synthmodel._PROJ.shape).astype(synthmodel._PROJ.dtype)
    path = str(tmp_path / "pert_enc.npz")
    np.savez(path, projection=pert,
             crop_size=np.int64(CROP_SIZE),
             embed_dim=np.int64(synthmodel.EMBED_DIM))

    df = _mk(spark, [
        _page("u1", "Body text here", images=["quick brown fox jumps"]),
    ])
    protos = broadcast_prototypes(spark, encoder_artifact=path)
    out = {r["url"]: r for r in
           extract_pages(df, protos, embedded_images=True,
                         encoder_artifact=path).collect()}
    parts = out["u1"]["extracted_text"].split("\n")
    assert parts[0] == "Body text here"
    assert parts[1].lower() == "quick brown fox jumps"


def _plan_nodes(df) -> list[str]:
    """Node names from the tree at the head of the formatted plan."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    nodes = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("("):
            break  # node details follow the tree
        m = re.match(r"^[\s:|+\-]*([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$",
                     line)
        if m:
            nodes[m.group(2)] = m.group(1)
    return list(nodes.values())


def test_embedded_fusion_plan_has_no_join_or_aggregate(spark, protos_bc,
                                                       tmp_path):
    """Every row routes inside the one salted Python stage: for both
    values of the flag the plan is one scan, one Exchange and one
    MapInPandas — no union, explode (Generate), join or aggregate — and
    an unsalted plan has no Exchange at all."""
    path = str(tmp_path / "pages")
    _mk(spark, [_page("u1", "Body", images=["one line"]),
                _page("u2", "Plain")]).write.parquet(path)
    pages = spark.read.parquet(path)
    for flag in (True, False):
        names = _plan_nodes(extract_pages(pages, protos_bc,
                                          salt_partitions=4,
                                          embedded_images=flag))
        assert sum("Exchange" in n for n in names) == 1, names
        assert names.count("MapInPandas") == 1, names
        assert names.count("Scan parquet") == 1, names
        assert not [n for n in names if "Union" in n or "Join" in n
                    or "Aggregate" in n or "Generate" in n], names
    names = _plan_nodes(extract_pages(pages, protos_bc,
                                      salt_partitions=None))
    assert not [n for n in names if "Exchange" in n], names
    assert names.count("MapInPandas") == 1, names
