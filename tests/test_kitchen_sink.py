"""Integration: ONE extract_pages call over every content type and
feature the pipeline supports — the closest local analog to a real
mixed Common-Crawl partition. Every row must land in the right branch
with the right text; quarantines must stay row-local."""

import base64
import os

import numpy as np

from effocr_spark.pipeline import broadcast_prototypes, extract_pages
from effocr_spark.synth.font import render_line
from effocr_spark.synth.imgcodec import encode_png
from effocr_spark.synth.jpegcodec import (encode_jpeg,
                                          encode_jpeg_progressive)
from effocr_spark.synth.pdfgen import (encrypt_pdf, make_cid_pdf,
                                       make_encrypted_pdf,
                                       make_fax_pdf, make_jbig2_pdf,
                                       make_pdf, make_scanned_pdf)

FREQ_DICT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "frequency_dict_en_full.txt")
VOCAB = ["the", "quick", "brown", "fox", "county", "market", "price"]


def _rgb(text):
    img, _, _ = render_line(text)
    return np.repeat(img[:, :, None], 3, axis=2)


def test_everything_in_one_call(spark):
    scan_rgb = _rgb("Scanned county market price")
    emb_rgb = _rgb("the quick brown fox")
    dmg = _rgb("market price the fox")
    # ink-blot one glyph of "price" for the word-silver stream
    _, _, wb = render_line("market price the fox")
    dmg = dmg.copy()
    dmg[dmg.shape[0] // 3: dmg.shape[0] // 3 + 3,
        int(wb[1][0]) + 4: int(wb[1][0]) + 8] = 0

    uri = ("data:image/jpeg;base64,"
           + base64.b64encode(encode_jpeg(emb_rgb)).decode())
    rows = [
        # OCR branch: PNG, baseline JPEG, progressive JPEG, damaged+silver
        ("png://0", encode_png(_rgb("County fair results 1885")[:, :, 0])),
        ("jpg://0", encode_jpeg(_rgb("Market prices fell today"),
                                subsample=True)),
        ("jpgp://0", encode_jpeg_progressive(_rgb("Progressive scan line"))),
        ("silver://0", encode_png(dmg[:, :, 0])),
        # DOM branch: plain + embedded data-URI JPEG
        ("dom://0", b"<html><body><div><p>Born digital body</p></div>"
                    b"</body></html>"),
        ("emb://0", (f"<html><body><div><p>Page with image</p>"
                     f"<img src=\"{uri}\"></div></body></html>").encode()),
        # PDF branch: filtered text, encrypted, scanned, password seam
        ("pdf://lzw", make_pdf([["LZW compressed text page"]],
                               filters=("LZWDecode",))),
        ("pdf://enc", make_encrypted_pdf([["Locked but readable page"]])),
        ("pdf://scan", make_scanned_pdf(
            [(encode_jpeg(scan_rgb), scan_rgb.shape[1], scan_rgb.shape[0])])),
        # round-4 shapes: CID text, encrypted CID, ObjStm, AES-256,
        # G4 fax scan, G3 scan, JBIG2 generic + symbol-coded scans
        ("pdf://cid", make_cid_pdf([["Modern subset font text"]])),
        ("pdf://enccid", encrypt_pdf(
            make_cid_pdf([["Locked subset text"]]), r=4)),
        ("pdf://objstm", make_cid_pdf([["Packed dictionary text"]],
                                      objstm=True)),
        ("pdf://r6", encrypt_pdf(make_pdf([["AES strength page"]]),
                                 r=6)),
        ("pdf://fax", make_fax_pdf(
            [render_line("county herald edition 1901")[0]])),
        ("pdf://g3", make_fax_pdf(
            [render_line("older village line here")[0]], k=0)),
        ("pdf://jbig2", make_jbig2_pdf(
            [render_line("generic coded page")[0]])),
        ("pdf://jbsym", make_jbig2_pdf(
            [render_line("symbol coded page")[0]],
            symbol_text="symbol coded page")),
        # quarantine rows: truncated JPEG, CID-without-ToUnicode
        ("bad://jpg", b"\xff\xd8\xff\xe0truncated"),
        ("bad://pdf", make_cid_pdf([["opaque"]], tounicode=False)),
    ]
    df = spark.createDataFrame(
        [(u, None, bytearray(b), None, "en") for u, b in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    protos = broadcast_prototypes(spark, word_vocab=VOCAB)
    out = {r["url"]: r for r in extract_pages(
        df, protos, salt_partitions=8, embedded_images=True,
        word_silver=0.95, spell_check=True,
        freq_dict=FREQ_DICT).collect()}

    assert len(out) == len(rows)
    assert out["png://0"]["branch"] == "ocr" and out["png://0"]["ok"]
    assert out["png://0"]["extracted_text"] == "County fair results 1885"
    assert out["jpg://0"]["extracted_text"] == "Market prices fell today"
    assert out["jpgp://0"]["extracted_text"] == "Progressive scan line"
    assert out["silver://0"]["extracted_text"] == "market price the fox"
    assert out["dom://0"]["branch"] == "dom"
    assert out["dom://0"]["extracted_text"] == "Born digital body"
    assert out["emb://0"]["extracted_text"] == \
        "Page with image\nthe quick brown fox"
    assert out["pdf://lzw"]["branch"] == "pdf"
    assert out["pdf://lzw"]["extracted_text"] == "LZW compressed text page"
    assert out["pdf://enc"]["extracted_text"] == "Locked but readable page"
    assert out["pdf://scan"]["extracted_text"] == \
        "Scanned county market price"
    assert out["pdf://cid"]["extracted_text"] == \
        "Modern subset font text"
    assert out["pdf://enccid"]["extracted_text"] == "Locked subset text"
    assert out["pdf://objstm"]["extracted_text"] == \
        "Packed dictionary text"
    assert out["pdf://r6"]["extracted_text"] == "AES strength page"
    assert out["pdf://fax"]["extracted_text"].lower() == \
        "county herald edition 1901"
    assert out["pdf://g3"]["extracted_text"].lower() == \
        "older village line here"
    assert out["pdf://jbig2"]["extracted_text"].lower() == \
        "generic coded page"
    assert out["pdf://jbsym"]["extracted_text"].lower() == \
        "symbol coded page"
    assert not out["bad://jpg"]["ok"] and out["bad://jpg"]["error"]
    assert not out["bad://pdf"]["ok"]
    assert "ToUnicode" in out["bad://pdf"]["error"]
    # quarantines stayed row-local: everything else succeeded
    assert sum(1 for r in out.values() if r["ok"]) == len(rows) - 2
