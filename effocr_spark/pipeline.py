"""End-to-end extraction pipeline: route → one fused Python stage.

Dataflow (SURVEY.md §3.1 "Spark lifecycle"):

    pages ─ sniff(html magic, JVM-side: image_page, has_images)
          ─ salted repartition (optional) ─ ocr_batches mapInPandas
    every row reaches the ONE Python stage, which routes it per row:
    image pages are localized and recognized; born-digital pages get
    their DOM/PDF text layer, plus the OCR text of their embedded
    images when has_images is set. One scan, no union, no join.

extract_pages is the only way into the stage; batch, streaming and
lineage runs all call it.

Scale notes (the 100 TB design point):
 - the only repartition is the salted one in front of the stage: page
   cost varies ~100x across hosts (image-heavy hosts) and a PDF from
   ~0.5 ms (text layer) to tens of ms (JPX scan), and AQE balances bytes,
   not Python-UDF compute, so we spread rows by xxhash64(url, salt)
   ourselves (SURVEY.md §4 custom item 1)
 - the sniffs are JVM expressions; the html column is never carried
   past the stage (column pruning)
 - the prototype matrix is a broadcast variable, never a join side
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.recognize import build_prototypes
from .operators.extract import (has_embedded_png, has_pdf_images,
                                is_image_page, is_pdf_page,
                                make_ocr_map_fn, ocr_columns)


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
    emit_boxes: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) →
    (url, extracted_text, n_chars, ok, error, branch), plus the columns
    emit_boxes / emit_char_text add (extract.ocr_columns). The one way
    into the extraction stage and the one list of its options; the
    streaming and lineage runners forward theirs here.

    Three-way content routing by JVM-side magic-byte sniff (no Python in
    the router): PNG/JPEG/JP2 → OCR, %PDF → PDF layout parse, else → DOM
    strip. All three run in the one ocr_batches stage (make_ocr_map_fn),
    which reads the sniff from the `image_page` column per row; the
    salted repartition, when set, spreads every row before it. jp pages
    are read vertically.

    conf_thres / iou_thres: the localizer's NMS thresholds;
    anchor_margin: en_postprocess's casing anchor (None = off).
    spell_check: visual spell check of en lines against freq_dict (a
    file every executor sees; None = the built-in dictionary).
    recognizer: "knn" (L2 + inner-product kNN,
    infer_effocr_onnx_multi.py:371-375) or "ffnn" (raw-logit argmax,
    infer_effocr.py:325-333).
    embedded_images: data-URI images in HTML and image XObjects in PDFs
    (JVM contains() tests set `has_images`) are OCR'd and their text
    appended to the row's text layer; its branch stays dom/pdf.
    encoder_artifact: serialized npz encoder path, loaded once per
    executor process.
    word_silver: cosine threshold for the word-level recognizer stream
    + silver-correction merge (needs broadcast_prototypes(word_vocab=));
    None = char stream only, the released reference behavior.
    pdf_password: user password for encrypted PDFs.
    emit_char_text: add the pre-merge char-only stream as `char_text`.
    emit_boxes: add page `width`/`height` and per-char page-space COCO
    `boxes` parallel to `chars` — the K2 sink feed
    (coco_sink.extraction_spans); born-digital rows get 0, 0, [], []."""
    html = F.col("html")
    # is_image_page(NULL) is NULL: coalesce so a NULL html row reaches
    # the stage as a born-digital row, which quarantines it
    image_page = F.coalesce(is_image_page(html), F.lit(False))
    has_images = F.lit(False)
    if embedded_images:
        has_images = F.coalesce(
            (is_pdf_page(html) & has_pdf_images(html))
            | (~is_pdf_page(html) & has_embedded_png(html)), F.lit(False))
    rows = pages.withColumns({"image_page": image_page,
                              "has_images": has_images})

    if salt_partitions:
        # defuse host skew: image-heavy hosts cluster in url space, and
        # input file splits preserve that; hash-spread rows before the
        # expensive UDF stage (cost ∝ rows, not bytes)
        rows = rows.repartition(
            salt_partitions, F.xxhash64(F.col("url"), F.lit(0x5A17)))

    fn = make_ocr_map_fn(
        protos_bc, conf_thres=conf_thres, iou_thres=iou_thres,
        anchor_margin=anchor_margin, spell_check=spell_check,
        recognizer=recognizer, emit_boxes=emit_boxes,
        encoder_artifact=encoder_artifact, word_silver=word_silver,
        freq_dict=freq_dict, emit_char_text=emit_char_text,
        pdf_password=pdf_password)
    schema = ", ".join(f"{name} {typ}" for name, typ
                       in ocr_columns(emit_boxes, emit_char_text))
    return rows.select("url", "html", "lang", "image_page",
                       "has_images").mapInPandas(fn, schema)
