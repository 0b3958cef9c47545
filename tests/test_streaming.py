"""Structured Streaming skin: AvailableNow extraction equals the batch
pipeline; incremental files are picked up from the checkpoint."""

from effocr_spark import pipeline, streaming
from effocr_spark.synth.pages import pages_df


def _collect_results(spark, out_dir):
    return {
        r["url"]: (r["extracted_text"], r["branch"])
        for r in spark.read.parquet(out_dir).collect()
    }


def test_stream_extract_matches_batch(spark, protos_bc, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages, _ = pages_df(spark, 80, seed=42)
    pages.write.mode("overwrite").parquet(pages_dir)

    q = streaming.stream_extract(spark, pages_dir, out_dir, ckpt, protos_bc)
    q.awaitTermination(300)
    got = _collect_results(spark, out_dir)

    batch = pipeline.extract_pages(spark.read.parquet(pages_dir), protos_bc)
    exp = {r["url"]: (r["extracted_text"], r["branch"]) for r in batch.collect()}
    assert got == exp


def test_stream_extract_incremental_resume(spark, protos_bc, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first, _ = pages_df(spark, 40, seed=7)
    first.write.mode("overwrite").parquet(pages_dir)
    q = streaming.stream_extract(spark, pages_dir, out_dir, ckpt, protos_bc)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 40

    # new files arrive; a new AvailableNow run drains ONLY them
    import pyspark.sql.functions as F

    second, _ = pages_df(spark, 70, seed=7)
    second.filter(F.xxhash64("url").isNotNull()).write.mode("append") \
        .parquet(pages_dir)
    q2 = streaming.stream_extract(spark, pages_dir, out_dir, ckpt, protos_bc)
    q2.awaitTermination(300)
    res = spark.read.parquet(out_dir)
    # first 40 urls appear twice (re-written in batch 2's files) is NOT
    # expected: checkpoint skips already-processed FILES; the second
    # append added all 70 rows as new files, so 40 dupes by url exist —
    # exactly-once is per FILE; url-level dedup stays the reader's job
    assert res.count() == 110
    assert res.dropDuplicates(["url"]).count() == 70


def test_windowed_event_counts_batch_equivalence(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = streaming.windowed_event_counts(ev).collect()
    assert len(out) > 0
    total = sum(r["n"] for r in out)
    assert total == ev.count()


def test_stream_extract_salted_matches_batch(spark, protos_bc, tmp_path):
    """salt_partitions parity: the streaming skin accepts the same salted
    repartition as the batch path (stateless within a micro-batch) and
    results are unchanged."""
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages, _ = pages_df(spark, 60, seed=7)
    pages.write.mode("overwrite").parquet(pages_dir)

    q = streaming.stream_extract(spark, pages_dir, out_dir, ckpt, protos_bc,
                                 salt_partitions=16)
    q.awaitTermination(300)
    got = _collect_results(spark, out_dir)

    batch = pipeline.extract_pages(spark.read.parquet(pages_dir), protos_bc,
                                   salt_partitions=16)
    exp = {r["url"]: (r["extracted_text"], r["branch"])
           for r in batch.collect()}
    assert got == exp


def test_stream_extract_word_silver_matches_batch(spark, tmp_path):
    """The word-silver stream is row-local, so streaming extraction with
    the flag matches the batch pipeline exactly — config parity between
    the two skins."""
    import numpy as np

    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import encode_png

    vocab = ["the", "quick", "brown", "fox", "county", "market"]
    rows = []
    for i, t in enumerate(["the quick brown fox", "county market the fox"]):
        img, _, wb = render_line(t)
        img = img.copy()
        x0 = int(wb[1][0])
        img[img.shape[0] // 3: img.shape[0] // 3 + 3, x0 + 4: x0 + 8] = 0
        rows.append((f"s://{i}", None, bytearray(encode_png(img)),
                     None, "en"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    pages_dir = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(pages_dir)

    protos = pipeline.broadcast_prototypes(spark, word_vocab=vocab)
    q = streaming.stream_extract(
        spark, pages_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        protos, word_silver=0.8)
    q.awaitTermination(300)
    got = _collect_results(spark, str(tmp_path / "out"))

    batch = pipeline.extract_pages(spark.read.parquet(pages_dir), protos,
                                   word_silver=0.8)
    exp = {r["url"]: (r["extracted_text"], r["branch"])
           for r in batch.collect()}
    assert got == exp
    # and silver actually fired (damaged glyph restored)
    assert got["s://0"][0] == "the quick brown fox"


def test_stream_extract_embedded_fusion_matches_batch(spark, protos_bc,
                                                      tmp_path):
    """embedded_images=True in streaming (the plain append-mode file
    sink over extract_pages) produces exactly the batch pipeline's
    fused output — the fusion is row-local by construction (a page's
    images are fused inside its own row in the OCR stage)."""
    import base64

    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import encode_png

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _uri(text):
        png = encode_png(render_line(text)[0])
        return "data:image/png;base64," + base64.b64encode(png).decode()

    rows = [
        ("u1", None, bytearray(
            f"<html><body><div id='m'><p>Body one</p>"
            f"<img src=\"{_uri('farm house print line')}\"></div>"
            f"</body></html>".encode()), None, "en"),
        ("u2", None, bytearray(
            b"<html><body><div id='m'><p>Plain body</p></div>"
            b"</body></html>"), None, "en"),
    ]
    pages = spark.createDataFrame(rows, streaming.PAGES_DDL)
    pages.write.mode("overwrite").parquet(pages_dir)

    q = streaming.stream_extract(spark, pages_dir, out_dir, ckpt,
                                 protos_bc, embedded_images=True)
    q.awaitTermination(300)
    got = {r["url"]: (r["extracted_text"], r["branch"])
           for r in spark.read.parquet(out_dir).collect()}
    batch = pipeline.extract_pages(spark.read.parquet(pages_dir),
                                   protos_bc, embedded_images=True)
    exp = {r["url"]: (r["extracted_text"], r["branch"])
           for r in batch.collect()}
    assert got == exp
    assert "farm house print line" in got["u1"][0].lower()

    # incremental: a new file is picked up by the next run
    extra = spark.createDataFrame(
        [("u3", None, bytearray(
            b"<html><body><div id='m'><p>Late page</p></div>"
            b"</body></html>"), None, "en")], streaming.PAGES_DDL)
    extra.write.mode("append").parquet(pages_dir)
    q2 = streaming.stream_extract(spark, pages_dir, out_dir, ckpt,
                                  protos_bc, embedded_images=True)
    q2.awaitTermination(300)
    got2 = {r["url"] for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {"u1", "u2", "u3"}


def test_stream_extract_pdf_password_matches_batch(spark, protos_bc,
                                                   tmp_path):
    """stream_extract forwards every extract_pages option: an AES-256
    (R6) PDF locked with a user password comes out of the stream
    exactly as it does from the batch pipeline with that password."""
    from effocr_spark.synth.pdfgen import make_aes256_pdf

    blob = make_aes256_pdf([["Config unlocked text"]], user_pw=b"corp-pw")
    pages = spark.createDataFrame(
        [("pdf://locked/0", None, bytearray(blob), None, "en")],
        streaming.PAGES_DDL)
    pages_dir = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(pages_dir)

    q = streaming.stream_extract(
        spark, pages_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        protos_bc, pdf_password=b"corp-pw")
    q.awaitTermination(300)
    got = [r.asDict() for r in
           spark.read.parquet(str(tmp_path / "out")).collect()]

    batch = pipeline.extract_pages(spark.read.parquet(pages_dir), protos_bc,
                                   pdf_password=b"corp-pw")
    assert got == [r.asDict() for r in batch.collect()]
    assert got[0]["ok"] and got[0]["branch"] == "pdf"
    assert got[0]["extracted_text"] == "Config unlocked text"
