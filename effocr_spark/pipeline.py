"""End-to-end extraction pipeline: route → OCR | DOM/PDF → union.

Dataflow (SURVEY.md §3.1 "Spark lifecycle"):

    pages ──sniff(html magic, JVM-side)──┬─ image pages (+ with
                                         │   embedded_images, born-
                                         │   digital pages carrying
                                         │   images) ─ salted
                                         │   repartition ─ fused OCR
                                         │   mapInPandas stage
                                         └─ born-digital ─ dom_pdf_branch
                                             mapInPandas stage
    branches are DISJOINT by construction (every row routes exactly one
    way, and a page's embedded images are fused inside its own row in
    the OCR stage), so the result is a unionByName — zero shuffles
    besides the salted one.

Scale notes (the 100 TB design point):
 - the only repartition is the salted one in front of the OCR stage:
   page cost varies ~100x across hosts (image-heavy hosts) and AQE
   balances bytes, not Python-UDF compute, so we spread rows by
   xxhash64(url, salt) ourselves (SURVEY.md §4 custom item 1)
 - filters on lang / html prefix are Catalyst-pushable; the html column
   is never carried past the branch UDFs (column pruning)
 - the prototype matrix is a broadcast variable, never a join side
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.recognize import build_prototypes
from .operators.extract import (dom_pdf_branch, has_embedded_png,
                                has_pdf_images, is_image_page,
                                is_pdf_page, ocr_branch)


def broadcast_prototypes(spark: SparkSession, langs=("en", "jp"),
                         encoder_artifact: str | None = None,
                         word_vocab: list[str] | None = None):
    """Build the glyph-prototype index driver-side and broadcast it —
    the FAISS ref.index analog (infer_effocr_onnx_multi.py:496-505).
    encoder_artifact: build the prototypes with the same serialized
    encoder the extraction stage will use (queries and index must share
    an embedding space).
    word_vocab: also build the word-level recognizer bank (rendered
    whole-word prototype embeddings under key 'en_words') for the
    silver-correction merge — the north star's word stream."""
    protos = {lang: build_prototypes(lang, encoder_artifact=encoder_artifact)
              for lang in langs}
    if word_vocab is not None:
        from .functions.recognize import build_word_prototypes
        protos["en_words"] = build_word_prototypes(
            word_vocab, encoder_artifact=encoder_artifact)
    return spark.sparkContext.broadcast(protos)


def extract_pages(
    pages: DataFrame,
    protos_bc,
    salt_partitions: int | None = None,
    conf_thres: float = 0.35,
    iou_thres: float = 0.01,
    anchor_margin: float | None = None,
    spell_check: bool = False,
    recognizer: str = "knn",
    embedded_images: bool = False,
    encoder_artifact: str | None = None,
    word_silver: float | None = None,
    freq_dict: str | None = None,
    pdf_password: bytes | str = b"",
    emit_char_text: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) →
    (url, extracted_text, n_chars, ok, error, branch).

    Three-way content routing by JVM-side magic-byte sniff (no Python in
    the router): PNG/JPEG/JP2 → OCR, %PDF → PDF layout parse, else → DOM
    strip. Branches are disjoint by construction, so fusion stays a
    unionByName (zero shuffles outside the salted OCR repartition).

    embedded_images: the north star's "embedded images/PDF layouts" —
    data-URI images inside HTML pages and image XObjects inside PDFs
    (scanned documents). A page carrying them (JVM contains() tests)
    routes to the OCR stage instead, which extracts its text layer,
    recognizes its images with the batch's page images and appends
    their text to the row (make_ocr_map_fn); its branch stays dom/pdf."""
    html = F.col("html")
    # is_image_page(NULL) is NULL, which both filters would drop: a NULL
    # html row goes to the non-image stage, which quarantines it
    image_page = F.coalesce(is_image_page(html), F.lit(False))
    to_ocr = image_page
    if embedded_images:
        to_ocr = image_page | F.coalesce(
            (is_pdf_page(html) & has_pdf_images(html))
            | (~is_pdf_page(html) & has_embedded_png(html)), F.lit(False))
    ocr_rows = pages.filter(to_ocr).withColumn("image_page", image_page)
    other_rows = pages.filter(~to_ocr)

    if salt_partitions:
        # defuse host skew: image-heavy hosts cluster in url space, and
        # input file splits preserve that; hash-spread rows before the
        # expensive UDF stage (cost ∝ rows, not bytes)
        ocr_rows = ocr_rows.repartition(
            salt_partitions, F.xxhash64(F.col("url"), F.lit(0x5A17)))

    ocr = ocr_branch(ocr_rows, protos_bc, conf_thres, iou_thres,
                     anchor_margin, spell_check, recognizer,
                     encoder_artifact=encoder_artifact,
                     word_silver=word_silver, freq_dict=freq_dict,
                     emit_char_text=emit_char_text,
                     embedded_images=embedded_images,
                     pdf_password=pdf_password)
    if not embedded_images:
        ocr = ocr.withColumn("branch", F.lit("ocr"))
    # both non-image branches run in ONE Python stage (per-row %PDF-
    # routing inside the UDF): one scan of the non-image majority
    # instead of two, and no near-empty task fleet for whichever
    # branch is sparse in the corpus slice
    other = dom_pdf_branch(other_rows, pdf_password=pdf_password)
    if emit_char_text:
        # the word stream exists only for OCR pages; dom/pdf rows
        # carry a NULL char stream so the union schema stays aligned
        other = other.withColumn("char_text", F.lit(None).cast("string"))
    return ocr.unionByName(other)
