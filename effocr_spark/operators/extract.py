"""Spark extraction operators: the OCR branch (fused mapInPandas stage)
and the born-digital DOM/PDF branch (one mapInPandas stage).

Design (SURVEY.md §3.1): the reference's three thread-pool stages
(localize → transform → recognize, infer_effocr_onnx_multi.py:234-364)
fuse into ONE Arrow-batched Python stage — everything about a url stays
in its row, so there is no shuffle and no cross-row float accumulation
(byte-stable under any partitioning). Within each Arrow batch, crops
from all pages are flattened, encoded in bounded sub-batches, and
regrouped — the reference's create_batches/regroup (:143-158, :377-386)
done per Arrow batch. The prototype matrix rides a Spark broadcast
(the FAISS-index analog, :496-505).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import assemble as asm
from ..functions import boxes as boxes_fn
from ..functions import crops as crops_fn
from ..functions import recognize as rec
from ..functions.domstrip import strip_html
from ..functions.spellcheck import (
    create_common_abbrev,
    create_homoglyph_dict,
    create_worddict,
    visual_spell_checker,
)
from ..synth import model as synthmodel
from ..synth.imgcodec import decode_png, is_png, to_rgb

PNG_MAGIC = bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])
JPEG_MAGIC = b"\xff\xd8\xff"


def decode_image(data: bytes):
    """PNG / baseline-JPEG / JPEG2000 bytes → HxWx3 uint8 (the
    reference globs *.png AND *.jpg,
    infer_effocr_onnx_multi.py:466-468 — S1 parity; JP2 covers the
    scanned-archive digitization format)."""
    if is_png(data):
        return to_rgb(decode_png(data))
    from ..synth.jpegcodec import decode_jpeg, is_jpeg
    if is_jpeg(data):
        return decode_jpeg(data)
    from ..synth.jp2codec import decode_jp2, is_jp2
    if is_jp2(data):
        return decode_jp2(data)
    raise ValueError("unsupported image container")

# n_chars = number of OCR-RECOGNIZED characters (localizer detections that
# survived NMS and got a kNN label), NOT len(extracted_text): it is 0 for
# the dom/pdf branches and excludes the positional spaces/newlines the
# assembler inserts. It is the reference's per-page detection-count metric
# (infer_effocr_onnx_multi.py prints it at runtime), kept as a pipeline
# health signal — text length is one F.length() away downstream.
OCR_OUT_SCHEMA = (
    "url string, extracted_text string, n_chars int, ok boolean, error string"
)

# span-emitting variant (the K2 COCO-sink feed): adds page dims + per-char
# page-space COCO boxes [x,y,w,h] parallel to the recognized chars
OCR_SPANS_SCHEMA = OCR_OUT_SCHEMA + (
    ", width int, height int, boxes array<array<int>>, chars array<string>"
)

# two-stream variant: extracted_text is the silver-merged stream and
# char_text the pre-merge char-only assembly, both from ONE localize +
# encode pass (emit_char_text=True; requires word_silver)
OCR_TWO_STREAM_SCHEMA = OCR_OUT_SCHEMA + ", char_text string"

# Crops per encoder call: bounds UDF peak memory BY BYTES, not rows —
# a [n, 3, CROP_SIZE, CROP_SIZE] float32 sub-batch is capped at ~64MB so
# peak stays ~2 copies × 64MB per worker at ANY crop size. At the 16x16
# fixture size this resolves to the old 1024; at reference tensor size
# (224x224, EFFOCR_CROP_SIZE) it drops to ~110 — without this, 32 workers
# × ~1.3GB sub-batches saturate the memory bus and width-32 runs SLOWER
# than width-8 (measured 17.6 → 7.6 docs/s regression, now fixed).
ENCODE_SUB_BATCH = max(
    32, min(1024, (64 << 20) // (3 * crops_fn.CROP_SIZE ** 2 * 4)))


def localize_page(png_bytes: bytes, lang: str, vertical: bool,
                  conf_thres: float, iou_thres: float,
                  word_crops: bool = False):
    """Per-page localizer: decode → line segmentation (multi-line pages
    cut into strips, functions/lineseg.py) → per strip: head → NMS →
    class split → reading order + word-end as-of → crop windows.
    Returns {'lines': [per-line dicts], 'crops': flat crop list,
    'n_chars': total} — crops stay uint8 until the batched transform.
    word_crops: also crop the class=word detections (left-sorted, the
    en_preprocess order) for the word-level recognizer stream."""
    from ..functions.lineseg import (column_strip_gray_triples,
                                     line_strip_gray_triples)

    im = decode_image(png_bytes)
    # the gray twin rides along from lineseg's single page-level
    # channel-min pass — the per-strip head used to re-reduce the same
    # pixels (bit-identical: min commutes with slice + white padding)
    triples = (column_strip_gray_triples(im) if vertical
               else line_strip_gray_triples(im))
    lines = []
    for s, g, off in triples:
        ln = _localize_strip(s, lang, vertical, conf_thres, iou_thres,
                             word_crops=word_crops, gray=g)
        ln["offset"] = off  # strip → page coordinate translation (K2 sink)
        lines.append(ln)
    crops: list = []
    wcrops: list = []
    for ln in lines:
        crops.extend(ln["crops"])
        wcrops.extend(ln.get("word_crops", ()))
    return {"lines": lines, "crops": crops, "n_chars": len(crops),
            "word_crops": wcrops, "n_words": len(wcrops),
            "height": im.shape[0], "width": im.shape[1]}


def _localize_strip(im: np.ndarray, lang: str, vertical: bool,
                    conf_thres: float, iou_thres: float,
                    word_crops: bool = False,
                    gray: np.ndarray | None = None):
    """The reference per-line dataflow over one strip image. `gray` is
    the strip's precomputed channel-min plane (lineseg already reduced
    the page once); the head takes either form identically."""
    head = synthmodel.synthetic_yolo_head(im if gray is None else gray,
                                          vertical=vertical)
    det = boxes_fn.non_max_suppression(head, conf_thres=conf_thres,
                                       iou_thres=iou_thres, max_det=1000)
    char_det = det[det[:, 5] == synthmodel.CLS_CHAR]
    word_det = det[det[:, 5] == synthmodel.CLS_WORD]
    wcrops: list = []
    if word_crops and not vertical and word_det.shape[0]:
        # left-sorted = the exact order en_preprocess derives
        # word_end_idx in, so word stream k ↔ token k+1 (silver_correct)
        sw = word_det[np.argsort(word_det[:, 0], kind="stable")]
        wcrops = crops_fn.extract_crops(im, sw[:, :4], vertical=False)

    if lang == "en":
        if char_det.shape[0] != 0:
            sorted_chars, word_end_idx = asm.en_preprocess(
                char_det[:, :4], word_det[:, :4], vertical=vertical)
        else:
            sorted_chars, word_end_idx = np.zeros((0, 4), np.float32), []
    else:
        sorted_chars = (asm.jp_preprocess(char_det[:, :4], vertical=vertical)
                        if char_det.shape[0] else np.zeros((0, 4), np.float32))
        word_end_idx = []

    crops = crops_fn.extract_crops(im, sorted_chars, vertical=vertical)
    # heights/bottoms from UNROUNDED letterbox-space boxes
    # (infer_effocr_onnx_multi.py:320-322)
    heights = [float(b[3] - b[1]) for b in sorted_chars]
    bottoms = [float(b[3]) for b in sorted_chars]
    # strip-local int crop windows, kept for the COCO span sink (K2);
    # same scale-back the crops themselves came from
    windows = crops_fn.scale_back_boxes(
        sorted_chars, im.shape[0], im.shape[1], vertical=vertical)
    return {
        "crops": crops,
        "word_crops": wcrops,
        "n_words": len(wcrops),
        "word_end_idx": word_end_idx,
        "heights": heights,
        "bottoms": bottoms,
        "windows": windows,
        "n_chars": len(crops),
    }


def assemble_line(chars: list[str], line, lang: str,
                  anchor_margin, spell_ctx,
                  word_stream=None) -> str | None:
    """Join recognized chars → postprocessed line text
    (infer_effocr_onnx_multi.py:385-393). word_stream: optional
    (preds, sims, threshold) from the word-level recognizer — silver
    correction merges it in AFTER postprocess/spellcheck (the word
    stream wins where confident; char assembly is the fallback)."""
    joined = "".join(c[0] for c in chars).strip()
    if lang == "en":
        out = asm.en_postprocess(joined, line["word_end_idx"],
                                 line["heights"], line["bottoms"],
                                 anchor_margin=anchor_margin)
        if spell_ctx is not None and out is not None:
            out = visual_spell_checker(out, *spell_ctx)
        if word_stream is not None and out is not None:
            preds, sims, thr = word_stream
            out, _ = asm.silver_correct(out, preds, sims, thr,
                                        word_end_idx=line["word_end_idx"])
        return out
    return joined


def assemble_page(chars: list[str], page, lang: str,
                  anchor_margin, spell_ctx,
                  word_preds=None, word_sims=None,
                  word_threshold: float = 0.9) -> str | None:
    """Per-line assembly + '\\n' join; all-None / zero-line pages → None.
    word_preds/word_sims: page-flat word-stream results, sliced per line
    by n_words (same regroup-by-count contract as the char stream)."""
    texts = []
    cursor = 0
    wcursor = 0
    for line in page["lines"]:
        n = line["n_chars"]
        nw = line.get("n_words", 0)
        ws = None
        if word_preds is not None and lang == "en":
            ws = (word_preds[wcursor: wcursor + nw],
                  word_sims[wcursor: wcursor + nw], word_threshold)
        wcursor += nw
        t = assemble_line(chars[cursor: cursor + n], line, lang,
                          anchor_margin, spell_ctx, word_stream=ws)
        cursor += n
        if t is not None:
            texts.append(t)
    return "\n".join(texts) if texts else None


def page_spans(page: dict, page_chars: list[str], vertical: bool):
    """Per-page COCO spans: strip-local crop windows (int xyxy) shifted
    by their strip's page offset → page-space [x, y, w, h] boxes,
    parallel to the recognized chars (reading order — exactly the
    reference's zip(nn_output, char_boxes) writer loop,
    /root/reference/infer_effocr.py:560-563)."""
    h_page, w_page = page["height"], page["width"]
    boxes: list[list[int]] = []
    for line in page["lines"]:
        off = line["offset"]
        for x0, y0, x1, y1 in line["windows"]:
            if vertical:
                x0, x1 = x0 + off, x1 + off
            else:
                y0, y1 = y0 + off, y1 + off
            x0 = max(int(x0), 0)
            y0 = max(int(y0), 0)
            x1 = min(int(x1), w_page)
            y1 = min(int(y1), h_page)
            boxes.append([x0, y0, x1 - x0, y1 - y0])
    return boxes, list(page_chars)


def make_ocr_map_fn(protos_bc, conf_thres: float = 0.35,
                    iou_thres: float = 0.01, anchor_margin=None,
                    spell_check: bool = False, recognizer: str = "knn",
                    vertical_override: bool | None = None,
                    emit_boxes: bool = False,
                    encoder_artifact: str | None = None,
                    word_silver: float | None = None,
                    freq_dict: str | None = None,
                    emit_char_text: bool = False):
    """Build the mapInPandas function for the fused OCR stage.

    word_silver: cosine threshold enabling the word-level recognizer
    stream + silver-correction merge (north star's two-stream design;
    requires broadcast_prototypes(word_vocab=...) so protos carry an
    'en_words' bank). None (default) = char stream only, the released
    reference behavior.

    protos_bc: Spark broadcast of {lang: (chars list, [K,D] float32)}.
    Input rows: (url, html, lang); output: OCR_OUT_SCHEMA.
    vertical_override: force text orientation for every row (the
    reference's global --vertical flag, infer_effocr_onnx_multi.py:429);
    default None derives it per row (jp → vertical).
    recognizer: "knn" (CPU path, L2+inner-product kNN,
    infer_effocr_onnx_multi.py:371-375) or "ffnn" (classifier-head path,
    raw-logit argmax + class_map, infer_effocr.py:325-333) — the
    synthetic FFNN weights ARE the prototype matrix, so the class map is
    the prototype char list.
    """

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        protos = protos_bc.value
        if word_silver is not None and "en_words" not in protos:
            raise ValueError("word_silver set but the broadcast has no "
                             "'en_words' bank — build the prototypes "
                             "with broadcast_prototypes(word_vocab=...)")
        # serialized-model path: per-executor-process singleton load (the
        # ort-session analog, localizer_engine.py:25-29) — the path string
        # ships in the closure; the weights deserialize once per worker
        proj = (synthmodel.load_projection(encoder_artifact)
                if encoder_artifact else None)
        # freq_dict: full-scale dictionary file (spark-submit --files
        # ships it; per-process cache in create_worddict = load once per
        # worker, the reference's 82k-file load at pipeline start)
        spell_ctx = ((create_worddict(freq_path=freq_dict),
                      create_homoglyph_dict(),
                      create_common_abbrev()) if spell_check else None)
        for pdf in batches:
            urls, texts, ncs, oks, errs = [], [], [], [], []
            widths, heights, all_boxes, all_chars = [], [], [], []
            pages, page_langs, flat_crops = [], [], []
            flat_word_crops: list = []
            for url, html, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                vertical = (vertical_override if vertical_override is not None
                            else lang == "jp")
                try:
                    page = localize_page(bytes(html), lang, vertical,
                                         conf_thres, iou_thres,
                                         word_crops=word_silver is not None)
                    err = None
                except Exception as e:  # quarantine, never crash the job
                    page = {"lines": [], "crops": [], "n_chars": 0,
                            "word_crops": [], "n_words": 0,
                            "height": 0, "width": 0}
                    err = f"localize: {e!r}"[:200]
                pages.append((url, lang, page, err, vertical))
                page_langs.append(lang)
                flat_crops.extend(page["crops"])
                if word_silver is not None:
                    flat_word_crops.extend(page["word_crops"])

            # batched transform+encode over ALL crops in the Arrow batch,
            # in bounded sub-batches
            embs = []
            for s in range(0, len(flat_crops), ENCODE_SUB_BATCH):
                embs.append(rec.embed_crops(
                    flat_crops[s: s + ENCODE_SUB_BATCH],
                    normalize=(recognizer == "knn"),
                    projection=proj))
            emb = (np.concatenate(embs) if embs
                   else np.zeros((0, synthmodel.EMBED_DIM), np.float32))

            # per-lang kNN over the flat crop axis, then positional regroup
            flat_lang = np.repeat([l for _, l, p, _, _ in pages],
                                  [p["n_chars"] for _, _, p, _, _ in pages])
            flat_chars: list[str] = [""] * emb.shape[0]
            for lang in set(page_langs):
                sel = np.nonzero(flat_lang == lang)[0]
                if sel.size == 0:
                    continue
                chars_list, proto_mat = protos[lang]
                if recognizer == "knn":
                    idxs = rec.knn_lookup(emb[sel], proto_mat)
                else:
                    idxs = rec.ffnn_lookup(emb[sel], proto_mat)
                for pos, k in zip(sel, idxs):
                    flat_chars[pos] = chars_list[int(k)]

            # word stream: whole-word crops through the SAME encoder,
            # kNN (with cosine) vs the broadcast word bank
            flat_wpreds: list[str] = []
            flat_wsims: list[float] = []
            if word_silver is not None and flat_word_crops:
                words_list, word_mat = protos["en_words"]
                wembs = []
                for s in range(0, len(flat_word_crops), ENCODE_SUB_BATCH):
                    wembs.append(rec.embed_crops(
                        flat_word_crops[s: s + ENCODE_SUB_BATCH],
                        normalize=True, projection=proj))
                wemb = np.concatenate(wembs)
                widx, wsim = rec.knn_lookup_sim(wemb, word_mat)
                flat_wpreds = [words_list[int(i)] for i in widx]
                flat_wsims = [float(x) for x in wsim]

            cursor = 0
            wcursor = 0
            char_texts: list = []
            for url, lang, page, err, vertical in pages:
                n = page["n_chars"]
                page_chars = flat_chars[cursor: cursor + n]
                cursor += n
                nw = page.get("n_words", 0)
                wp = ws = None
                if word_silver is not None:
                    wp = flat_wpreds[wcursor: wcursor + nw]
                    ws = flat_wsims[wcursor: wcursor + nw]
                    wcursor += nw
                ctext = None
                if err is None:
                    try:
                        text = assemble_page(
                            page_chars, page, lang, anchor_margin,
                            spell_ctx, word_preds=wp, word_sims=ws,
                            word_threshold=(word_silver
                                            if word_silver is not None
                                            else 0.9))
                        if emit_char_text:
                            # pre-merge char stream from the SAME
                            # localize+encode pass: assembly with the
                            # word stream disabled is exactly the
                            # word_silver=None output (localize/encode
                            # are word-crop-independent), so callers
                            # needing both streams pay ONE extraction
                            # instead of two (r6 verdict item 5)
                            ctext = assemble_page(
                                page_chars, page, lang, anchor_margin,
                                spell_ctx)
                    except Exception as e:
                        text, err = None, f"assemble: {e!r}"[:200]
                        ctext = None
                else:
                    text = None
                urls.append(url)
                texts.append(text)
                ncs.append(n)
                oks.append(err is None)
                errs.append(err)
                char_texts.append(ctext)
                if emit_boxes:
                    bxs, chs = (page_spans(page, page_chars, vertical)
                                if err is None else ([], []))
                    widths.append(page["width"])
                    heights.append(page["height"])
                    all_boxes.append(bxs)
                    all_chars.append(chs)
            out = {
                "url": urls, "extracted_text": texts, "n_chars": ncs,
                "ok": oks, "error": errs,
            }
            if emit_boxes:
                out.update({"width": widths, "height": heights,
                            "boxes": all_boxes, "chars": all_chars})
            if emit_char_text:
                out["char_text"] = char_texts
            yield pd.DataFrame(out)

    return ocr_batches


def ocr_branch(df: DataFrame, protos_bc, conf_thres: float = 0.35,
               iou_thres: float = 0.01, anchor_margin=None,
               spell_check: bool = False, recognizer: str = "knn",
               vertical_override: bool | None = None,
               encoder_artifact: str | None = None,
               word_silver: float | None = None,
               freq_dict: str | None = None,
               emit_char_text: bool = False) -> DataFrame:
    """(url, html, lang) pages → (url, extracted_text, n_chars, ok, error).

    encoder_artifact: path to a serialized npz encoder (visible on every
    executor — cluster deploys ship it via spark-submit --files); loaded
    once per executor process through the model-singleton seam.
    word_silver: cosine threshold enabling the word-level recognizer
    stream + silver-correction merge (see make_ocr_map_fn).
    emit_char_text: also emit the pre-merge char-only stream as a
    `char_text` column from the same pass (requires word_silver)."""
    fn = make_ocr_map_fn(protos_bc, conf_thres, iou_thres,
                         anchor_margin, spell_check, recognizer,
                         vertical_override,
                         encoder_artifact=encoder_artifact,
                         word_silver=word_silver, freq_dict=freq_dict,
                         emit_char_text=emit_char_text)
    schema = OCR_TWO_STREAM_SCHEMA if emit_char_text else OCR_OUT_SCHEMA
    return df.select("url", "html", "lang").mapInPandas(fn, schema)


def ocr_spans_branch(df: DataFrame, protos_bc, conf_thres: float = 0.35,
                     iou_thres: float = 0.01, anchor_margin=None,
                     spell_check: bool = False, recognizer: str = "knn",
                     vertical_override: bool | None = None) -> DataFrame:
    """Span-emitting OCR: same fused stage as ocr_branch, plus page dims
    and per-char page-space COCO boxes parallel to the recognized chars —
    the feed for the K2 COCO sink (operators/coco_sink.py). Explode to
    one row per box with posexplode(arrays_zip(boxes, chars))."""
    fn = make_ocr_map_fn(protos_bc, conf_thres, iou_thres,
                         anchor_margin, spell_check, recognizer,
                         vertical_override, emit_boxes=True)
    return df.select("url", "html", "lang").mapInPandas(fn, OCR_SPANS_SCHEMA)


def is_image_page(html_col):
    """JVM-side content sniff: PNG, JPEG or JPEG2000 magic prefix (no
    Python UDF; the reference's *.png + *.jpg glob, S1, plus the JP2
    scans archive digitizations ship)."""
    return ((F.substring(html_col, 1, 8) == F.lit(PNG_MAGIC))
            | (F.substring(html_col, 1, 3) == F.lit(JPEG_MAGIC))
            | (F.substring(html_col, 5, 4) == F.lit(b"jP  "))
            | (F.substring(html_col, 1, 2) == F.lit(b"\xff\x4f")))


def is_pdf_page(html_col):
    """JVM-side content sniff: %PDF- header (no Python UDF)."""
    return F.substring(html_col, 1, 5) == F.lit(b"%PDF-")


_DATA_URI_MARK = "data:image/"  # png or jpeg; full match below
_DATA_URI_RE = None  # compiled lazily in the worker


def has_embedded_png(html_col):
    """JVM-side pre-filter for HTML pages carrying data-URI images (the
    north star's 'embedded images'): a cheap contains() so the embedded-
    image explode UDF only ever sees candidate rows."""
    return F.contains(html_col.cast("string"), F.lit(_DATA_URI_MARK))


EMBEDDED_SCHEMA = "url string, img_idx int, html binary, lang string"


def embedded_png_rows(df: DataFrame) -> DataFrame:
    """HTML pages → one row per embedded data-URI PNG
    (url, img_idx, png bytes, lang), ready for the standard OCR branch.
    Undecodable base64 payloads are skipped (quarantine by omission —
    the page's DOM text still flows through the DOM branch)."""
    import base64
    import re

    def explode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        global _DATA_URI_RE
        if _DATA_URI_RE is None:
            _DATA_URI_RE = re.compile(
                r"data:image/(?:png|jpeg);base64,([A-Za-z0-9+/=]+)")
        for pdf in batches:
            urls, idxs, blobs, langs = [], [], [], []
            for url, html, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                try:
                    text = bytes(html).decode("utf-8", errors="replace")
                except Exception:
                    continue
                for i, m in enumerate(_DATA_URI_RE.finditer(text)):
                    try:
                        blob = base64.b64decode(m.group(1), validate=True)
                    except Exception:
                        continue
                    if blob[:8] != PNG_MAGIC and blob[:3] != JPEG_MAGIC:
                        continue
                    urls.append(url)
                    idxs.append(i)
                    blobs.append(blob)
                    langs.append(lang)
            yield pd.DataFrame({"url": urls, "img_idx": idxs,
                                "html": blobs, "lang": langs})

    return df.select("url", "html", "lang").mapInPandas(
        explode_batches, EMBEDDED_SCHEMA)


def has_pdf_images(html_col):
    """JVM-side pre-filter for PDFs carrying DCT (JPEG), CCITT fax, or
    JBIG2 image XObjects — the three encodings scanned documents
    actually use. Cheap contains() so the image-explode UDF only sees
    candidates."""
    s = html_col.cast("string")
    return (F.contains(s, F.lit("/DCTDecode"))
            | F.contains(s, F.lit("/CCITTFaxDecode"))
            | F.contains(s, F.lit("/JBIG2Decode"))
            | F.contains(s, F.lit("/JPXDecode"))
            # inline images in RAW content streams (BI /W ... ID ... EI
            # — the simple-generator shape); Flate-compressed content
            # hides inline images from any byte-level prefilter — a
            # documented recall trade for not exploding every PDF
            | F.contains(s, F.lit("BI /")))


def pdf_image_rows(df: DataFrame,
                   pdf_password: bytes | str = b"") -> DataFrame:
    """PDF pages → one row per embedded DCT image
    (url, img_idx, jpeg bytes, lang), ready for the standard OCR branch
    — the scanned-newspaper path (north star: 'embedded images/PDF
    layouts'). Unextractable documents are skipped (quarantine by
    omission — the text layer still flows through the PDF branch)."""
    from ..functions.pdftext import extract_pdf_images

    def explode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, blobs, langs = [], [], [], []
            for url, html, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                try:
                    imgs = extract_pdf_images(bytes(html),
                                              password=pdf_password)
                except Exception:
                    continue
                for i, blob in enumerate(imgs):
                    urls.append(url)
                    idxs.append(i)
                    blobs.append(blob)
                    langs.append(lang)
            yield pd.DataFrame({"url": urls, "img_idx": idxs,
                                "html": blobs, "lang": langs})

    return df.select("url", "html", "lang").mapInPandas(
        explode_batches, EMBEDDED_SCHEMA)


def dom_pdf_branch(df: DataFrame,
                   pdf_password: bytes | str = b"") -> DataFrame:
    """(url, html) non-image pages → OCR_OUT_SCHEMA plus the `branch`
    label ('pdf'/'dom'), both born-digital extractors in ONE Python
    stage, routed per row by the same %PDF- prefix the JVM sniff uses.

    PDF rows run extract_pdf_text (functions/pdftext.py, pure stdlib);
    undecodable documents quarantine into ok=False rows, never crash
    the job.
    `pdf_password` unlocks true-password documents (job-level config,
    the freq_dict pattern — a corpus crawled from one provider shares
    one password). Every other row runs strip_html; a NULL html cell
    quarantines as an ok=False dom row.

    One stage rather than one per branch: a second stage would scan
    the non-image majority again and launch a fleet of near-empty
    Python tasks for whichever branch is sparse in the corpus slice (a
    pure-HTML crawl slice paid ~0.4s of empty pdf tasks per pass at
    local[32])."""
    from ..functions.pdftext import extract_pdf_text

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            urls, texts, oks, errs, brs = [], [], [], [], []
            for url, data in zip(pdf["url"], pdf["html"]):
                urls.append(url)
                if data is None:
                    brs.append("dom")
                    texts.append(None)
                    oks.append(False)
                    errs.append("dom: html is NULL")
                    continue
                b = bytes(data)
                if b[:5] == b"%PDF-":
                    brs.append("pdf")
                    try:
                        stats: dict = {}
                        texts.append(extract_pdf_text(
                            b, password=pdf_password, stats=stats))
                        oks.append(True)
                        # partial extraction is flagged, never silent:
                        # the dropped-stream count rides the error
                        # column as a warning while ok stays True
                        nq = stats.get("quarantined_streams", 0)
                        errs.append(f"pdf: {nq} stream(s) quarantined "
                                    f"(unresolved font)" if nq else None)
                    except Exception as e:
                        texts.append(None)
                        oks.append(False)
                        errs.append(f"pdf: {e!r}"[:200])
                else:
                    brs.append("dom")
                    texts.append(strip_html(b))
                    oks.append(True)
                    errs.append(None)
            yield pd.DataFrame({
                "url": urls, "extracted_text": texts,
                "n_chars": [0] * len(urls), "ok": oks, "error": errs,
                "branch": brs,
            })

    return df.select("url", "html").mapInPandas(
        batches, OCR_OUT_SCHEMA + ", branch string")
