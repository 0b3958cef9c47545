"""End-to-end: Spark pipeline output is byte-identical to the oracle per
url, at multiple parallelism levels / partitionings (the BASELINE.json
per-row invariant)."""

import pytest
from pyspark.sql import functions as F

from effocr_spark import oracle, pipeline
from effocr_spark.functions.domstrip import strip_html
from effocr_spark.synth.imgcodec import is_png
from effocr_spark.synth.pages import generate_page, pages_df

N_PAGES = 200


@pytest.fixture(scope="module")
def expected(prototypes):
    """Oracle-computed golden per url."""
    en_imgs, jp_imgs, exp = [], [], {}
    for i in range(N_PAGES):
        p = generate_page(i, seed=42)
        if is_png(p["html"]):
            (en_imgs if p["lang"] == "en" else jp_imgs).append((p["url"], p["html"]))
        else:
            exp[p["url"]] = (strip_html(p["html"]), "dom")
    r = oracle.run_reference_extraction(en_imgs, *prototypes["en"], lang="en")
    for u, t in r.items():
        exp[u] = (t, "ocr")
    r = oracle.run_reference_extraction(jp_imgs, *prototypes["jp"], lang="jp",
                                        vertical=True)
    for u, t in r.items():
        exp[u] = (t, "ocr")
    return exp


def _run(spark, protos_bc, **kw):
    pages, _ = pages_df(spark, N_PAGES, seed=42)
    res = pipeline.extract_pages(pages, protos_bc, **kw)
    return {r["url"]: (r["extracted_text"], r["branch"]) for r in res.collect()}


def test_pipeline_matches_oracle(spark, protos_bc, expected):
    got = _run(spark, protos_bc)
    assert len(got) == N_PAGES
    for url, exp in expected.items():
        assert got[url] == exp, url


def test_pipeline_stable_across_partitionings(spark, protos_bc, expected):
    a = _run(spark, protos_bc, salt_partitions=3)
    b = _run(spark, protos_bc, salt_partitions=17)
    assert a == b
    for url, exp in expected.items():
        assert a[url] == exp, url


def test_every_row_routed_exactly_once(spark, protos_bc):
    pages, _ = pages_df(spark, N_PAGES, seed=42)
    res = pipeline.extract_pages(pages, protos_bc)
    counts = res.groupBy("url").count().filter(F.col("count") != 1).count()
    assert counts == 0
    assert res.count() == N_PAGES


def test_quarantine_not_crash(spark, protos_bc):
    """Malformed PNG bytes must produce ok=false rows, not a job failure."""
    import pandas as pd

    bad = pd.DataFrame({
        "url": ["bad1"],
        "warc_ts": [pd.Timestamp("2024-01-01", tz="UTC")],
        "html": [b"\x89PNG\r\n\x1a\nGARBAGE"],
        "text": [""],
        "lang": ["en"],
    })
    df = spark.createDataFrame(bad)
    res = pipeline.extract_pages(df, protos_bc).collect()
    assert len(res) == 1
    assert res[0]["ok"] is False
    assert res[0]["extracted_text"] is None
    assert "localize" in res[0]["error"]


def test_lang_without_prototype_bank_quarantines_row(spark, protos_bc):
    """An image page whose lang has no prototype bank ('de', NULL) is
    quarantined in the stage (ok=false, the lang named in the error)
    while a healthy HTML row of the same job comes out exact; a
    born-digital row in such a lang keeps its text layer and drops its
    embedded image."""
    import base64

    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import encode_png

    png = encode_png(render_line("hello world")[0])
    html = b"<html><body><p>plain paragraph text here</p></body></html>"
    with_img = html.replace(b"</p>", b"</p><img src='data:image/png;base64,"
                            + base64.b64encode(png) + b"'>")
    df = spark.createDataFrame(
        [("u://html", bytearray(html), "en"),
         ("u://de", bytearray(png), "de"),
         ("u://null", bytearray(png), None),
         ("u://de-img", bytearray(with_img), "de")],
        "url string, html binary, lang string")
    got = {r["url"]: r for r in pipeline.extract_pages(
        df, protos_bc, embedded_images=True).collect()}
    assert tuple(got["u://html"]) == ("u://html", strip_html(html), 0, True,
                                      None, "dom")
    assert tuple(got["u://de-img"]) == ("u://de-img", strip_html(with_img),
                                        0, True, None, "dom")
    for url, lang in (("u://de", "'de'"), ("u://null", "None")):
        r = got[url]
        assert (r["extracted_text"], r["n_chars"], r["ok"], r["branch"]) \
            == (None, 0, False, "ocr")
        assert r["error"] == f"recognize: no prototype bank for lang {lang}"
