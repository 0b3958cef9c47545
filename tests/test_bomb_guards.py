"""Decompression/allocation bomb guards — the 100 TB failure mode
where ONE crafted or corrupt document OOMs an executor and takes every
other document in the task down with it. Each guard quarantines the
single document (ValueError → ok=False row / empty DOM text) and the
pipeline keeps going."""

import struct
import zlib

import numpy as np
import pytest


def test_pdf_flate_bomb_quarantines():
    from effocr_spark.functions.pdftext import (MAX_STREAM_BYTES,
                                                extract_pdf_text)

    bomb = zlib.compress(b"\x00" * (MAX_STREAM_BYTES + (1 << 20)), 9)
    assert len(bomb) < (1 << 20)  # the attack: tiny input, huge output
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(bomb)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + bomb
           + b"\nendstream\nendobj\n%%EOF")
    with pytest.raises(ValueError, match="MAX_STREAM_BYTES"):
        extract_pdf_text(pdf)


def test_lzw_bomb_quarantines():
    from effocr_spark.functions.pdftext import lzw_decode

    # repeated max-table growth: LZW expands quadratically; a few
    # hundred KB of codes would cross the cap
    from effocr_spark.functions.pdftext import lzw_encode
    data = lzw_encode(b"\x00" * 4096)
    # simulate by shrinking the cap via direct growth: just assert the
    # cap constant is enforced on a synthetic oversized expansion
    import effocr_spark.functions.pdftext as pt
    old = pt.MAX_STREAM_BYTES
    try:
        pt.MAX_STREAM_BYTES = 1024
        with pytest.raises(ValueError, match="MAX_STREAM_BYTES"):
            lzw_decode(data)
    finally:
        pt.MAX_STREAM_BYTES = old


def test_dom_gzip_bomb_yields_empty():
    import gzip

    from effocr_spark.functions.domstrip import strip_html

    bomb = gzip.compress(b"<p>" + b"a" * (300 << 20) + b"</p>", 9)
    assert strip_html(bomb) == ""  # quarantine-to-empty, no OOM
    # a NORMAL gzip page still decodes
    ok = gzip.compress(b"<html><body><p>real page text here, long "
                       b"enough to be main content.</p></body></html>")
    assert "real page text" in strip_html(ok)


@pytest.mark.parametrize("unit", [b"<a ", b"<a", b"<!--"])
def test_dom_unterminated_tail_is_linear(unit):
    """A page whose tail no `>` (or `-->`) terminates: the stdlib
    tokenizer's close() rescans the rest of the input at every `<`, so
    30 KB of `<a ` took 11 s on a 4-vCPU host and each doubling 4x
    more. 200 KB must come back as text in well under a second."""
    import time

    from effocr_spark.functions.domstrip import strip_html

    page = b"<body><div>" + unit * ((200 << 10) // len(unit) + 1)
    t0 = time.perf_counter()
    out = strip_html(page)
    elapsed = time.perf_counter() - t0
    assert isinstance(out, str) and out
    assert elapsed < 1.0, f"{unit!r}: {elapsed:.2f} s"


def test_png_idat_inflation_bomb_quarantines():
    """The IHDR dims guard does not bound IDAT inflation: an 8x8 gray
    PNG whose IDAT inflates to 200 MB must raise without ever holding
    the inflated bytes (inflation stops one byte past 8·(8+1))."""
    import tracemalloc

    from effocr_spark.synth.imgcodec import _PNG_SIG, _chunk, decode_png

    inflated = 200 << 20
    co = zlib.compressobj(9)
    chunk = b"\x00" * (1 << 20)
    idat = b"".join([co.compress(chunk) for _ in range(inflated >> 20)]
                    + [co.flush()])
    assert len(idat) < (300 << 10)  # the attack: tiny input, huge output
    png = (_PNG_SIG
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0))
           + _chunk(b"IDAT", idat) + _chunk(b"IEND", b""))
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="exceeds its IHDR size"):
            decode_png(png)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < (4 << 20), peak  # vs 200 MB for an uncapped inflate
    # the cap is exact: the same image with the right amount of data
    # decodes, and a short IDAT is a clean parse error too
    ok = zlib.compress(b"\x00" * (8 * 9))
    good = png.replace(_chunk(b"IDAT", idat), _chunk(b"IDAT", ok))
    assert decode_png(good).shape == (8, 8)
    short = png.replace(_chunk(b"IDAT", idat),
                        _chunk(b"IDAT", zlib.compress(b"\x00" * 40)))
    with pytest.raises(ValueError, match="short"):
        decode_png(short)


def test_crafted_dims_quarantine_every_codec():
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2
    from effocr_spark.synth.imgcodec import decode_png, encode_png
    from effocr_spark.synth.jpegcodec import decode_jpeg, encode_jpeg
    from effocr_spark.synth.jbig2codec import (_SEG_PAGE_INFO,
                                               _segment_header,
                                               jbig2_decode_embedded)

    # JPEG2000: SIZ dims patched to 2^30 × 2^30
    blob = bytearray(encode_jp2(np.zeros((16, 16), np.uint8),
                                jp2_container=False))
    siz_at = bytes(blob).find(b"\xff\x51")
    struct.pack_into(">II", blob, siz_at + 4 + 2,
                     0x40000000, 0x40000000)
    with pytest.raises(ValueError, match="implausible"):
        decode_jp2(bytes(blob))

    # PNG: IHDR dims patched
    png = bytearray(encode_png(np.zeros((8, 8), np.uint8)))
    ih = bytes(png).find(b"IHDR")
    struct.pack_into(">II", png, ih + 4, 0x40000000, 0x40000000)
    with pytest.raises(ValueError, match="implausible"):
        decode_png(bytes(png))

    # JPEG: SOF dims patched to 65535 × 65535 (4.3 GPix)
    jpg = bytearray(encode_jpeg(
        np.zeros((8, 8, 3), np.uint8)))
    sof = bytes(jpg).find(b"\xff\xc0")
    struct.pack_into(">HH", jpg, sof + 5, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="implausible"):
        decode_jpeg(bytes(jpg))

    # JBIG2: page info dims
    page_info = (struct.pack(">IIII", 0x40000000, 0x40000000, 0, 0)
                 + b"\x01\x00\x00")
    blob = (_segment_header(0, _SEG_PAGE_INFO, 1, len(page_info))
            + page_info)
    with pytest.raises(ValueError, match="implausible"):
        jbig2_decode_embedded(blob)


def test_bomb_pdf_through_pipeline_is_ok_false(spark, protos_bc):
    """The executor-level contract: a bomb document becomes ONE
    ok=False row; neighbors in the same task extract normally."""
    from effocr_spark.functions.pdftext import MAX_STREAM_BYTES
    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.pdfgen import make_pdf

    bomb = zlib.compress(b"\x00" * (MAX_STREAM_BYTES + (1 << 20)), 9)
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(bomb)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + bomb
           + b"\nendstream\nendobj\n%%EOF")
    rows = [("pdf://bomb", None, bytearray(pdf), None, "en"),
            ("pdf://fine", None,
             bytearray(make_pdf([["Healthy neighbor page"]])), None,
             "en")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    res = {r["url"]: r for r in extract_pages(df, protos_bc).collect()}
    assert not res["pdf://bomb"]["ok"]
    assert "MAX_STREAM_BYTES" in res["pdf://bomb"]["error"]
    assert res["pdf://fine"]["ok"]
    assert res["pdf://fine"]["extracted_text"] == "Healthy neighbor page"
