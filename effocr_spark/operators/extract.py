"""Spark extraction operator: ONE fused mapInPandas stage for every
page — image pages through the OCR dataflow, born-digital DOM/PDF pages
through their text-layer extractors, routed per row.

Design (SURVEY.md §3.1): the reference's three thread-pool stages
(localize → transform → recognize, infer_effocr_onnx_multi.py:234-364)
fuse into ONE Arrow-batched Python stage — everything about a url stays
in its row, so there is no shuffle and no cross-row float accumulation
(byte-stable under any partitioning). Within each Arrow batch, crops
from all pages are flattened, encoded in bounded sub-batches, and
regrouped — the reference's create_batches/regroup (:143-158, :377-386)
done per Arrow batch. The prototype matrix rides a Spark broadcast
(the FAISS-index analog, :496-505).

Born-digital rows share the stage: each gets its text layer from
born_digital_text and, when the JVM flagged embedded images (data-URIs
in HTML, image XObjects in PDFs), its images from page_images with their
OCR text appended inside the row — one output row per input row, never
a second stage, a union, a derived-row explode or a join.

pipeline.extract_pages is the stage's only caller: it adds the sniff
columns, builds the function with make_ocr_map_fn and the schema with
ocr_columns.
"""

from __future__ import annotations

import base64
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

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
    raise NotImplementedError(
        "unrecognized image container; plug a real decoder in here")


def ocr_columns(emit_boxes: bool,
                emit_char_text: bool) -> list[tuple[str, str]]:
    """The stage's output columns in order, as (name, Spark type): the
    Spark schema string and every batch's pandas columns both come from
    here.

    n_chars = number of OCR-RECOGNIZED characters (localizer detections
    that survived NMS and got a kNN label), NOT len(extracted_text): it
    is 0 for the dom/pdf branches and excludes the positional
    spaces/newlines the assembler inserts. It is the reference's
    per-page detection-count metric (infer_effocr_onnx_multi.py prints
    it at runtime), kept as a pipeline health signal.
    emit_boxes adds page dims + per-char page-space COCO boxes [x,y,w,h]
    parallel to the recognized chars (the K2 COCO-sink feed);
    emit_char_text adds the pre-merge char-only assembly beside the
    silver-merged extracted_text."""
    cols = [("url", "string"), ("extracted_text", "string"),
            ("n_chars", "int"), ("ok", "boolean"), ("error", "string")]
    if emit_boxes:
        cols += [("width", "int"), ("height", "int"),
                 ("boxes", "array<array<int>>"), ("chars", "array<string>")]
    if emit_char_text:
        cols.append(("char_text", "string"))
    return cols + [("branch", "string")]


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

    # strip-local int crop windows, kept for the COCO span sink (K2);
    # the crops are cut from the same windows (= extract_crops)
    windows = crops_fn.scale_back_boxes(
        sorted_chars, im.shape[0], im.shape[1], vertical=vertical)
    crops = crops_fn.cut_windows(im, windows)
    # heights/bottoms from UNROUNDED letterbox-space boxes
    # (infer_effocr_onnx_multi.py:320-322)
    heights = (sorted_chars[:, 3] - sorted_chars[:, 1]).tolist()
    bottoms = sorted_chars[:, 3].tolist()
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
    infer_effocr.py:560-563)."""
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


def make_ocr_map_fn(protos_bc, *, conf_thres, iou_thres, anchor_margin,
                    spell_check, recognizer, emit_boxes, encoder_artifact,
                    word_silver, freq_dict, emit_char_text, pdf_password):
    """Build the mapInPandas function for the fused extraction stage.
    The options are pipeline.extract_pages's, which documents them and
    is the only caller.

    protos_bc: Spark broadcast of {lang: (chars list, [K,D] float32)}.
    Input rows: (url, html, lang, image_page, has_images), the last two
    the JVM sniffs; output: the ocr_columns(emit_boxes, emit_char_text)
    columns, ending in the row's `branch` ('ocr'/'dom'/'pdf').
    Orientation is per row: jp is vertical. recognizer="ffnn" embeds
    without L2-normalizing and takes the same argmax (knn_lookup) over
    the raw logits — the synthetic FFNN weights ARE the prototype
    matrix, so the class map is the prototype char list.
    An image_page row is localized and recognized (branch 'ocr'). Any
    other row's text is its text layer (born_digital_text), then — only
    when has_images — '\\n' and the non-NULL OCR texts of its images
    (page_images) in order; n_chars is their summed char count;
    ok/error/branch are the text layer's. A lang with no prototype bank
    quarantines an image page (ok=False) and drops a born-digital
    row's images, never the job.
    """
    cols = [name for name, _ in ocr_columns(emit_boxes, emit_char_text)]

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
            # rows: (url, text layer, n images), the layer None for an
            # image page to localize; pages: one entry per localized
            # image, in row order
            rows, pages, flat_crops = [], [], []
            flat_word_crops: list = []
            for url, html, lang, is_image, has_images in zip(
                    pdf["url"], pdf["html"], pdf["lang"],
                    pdf["image_page"], pdf["has_images"]):
                layer, blobs = None, []
                if not is_image:
                    layer = born_digital_text(html, pdf_password)
                    if has_images and lang in protos:
                        blobs = page_images(bytes(html), pdf_password)
                elif lang in protos:
                    blobs = [html]
                else:
                    layer = (None, False, "recognize: no prototype bank "
                             f"for lang {lang!r}", "ocr")
                rows.append((url, layer, len(blobs)))
                for blob in blobs:
                    try:
                        page = localize_page(
                            bytes(blob), lang, lang == "jp", conf_thres,
                            iou_thres, word_crops=word_silver is not None)
                        err = None
                    except Exception as e:  # quarantine, never crash the job
                        page = {"lines": [], "crops": [], "n_chars": 0,
                                "word_crops": [], "n_words": 0,
                                "height": 0, "width": 0}
                        err = f"localize: {e!r}"[:200]
                    pages.append((lang, page, err))
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
            flat_lang = np.repeat([l for l, _, _ in pages],
                                  [p["n_chars"] for _, p, _ in pages])
            flat_chars: list[str] = [""] * emb.shape[0]
            for lang in {l for l, _, _ in pages}:
                sel = np.nonzero(flat_lang == lang)[0]
                if sel.size == 0:
                    continue
                chars_list, proto_mat = protos[lang]
                for pos, k in zip(sel, rec.knn_lookup(emb[sel], proto_mat)):
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
            done = []  # per page: its output columns but url
            for lang, page, err in pages:
                n = page["n_chars"]
                page_chars = flat_chars[cursor: cursor + n]
                cursor += n
                nw = page.get("n_words", 0)
                wp = ws = None
                if word_silver is not None:
                    wp = flat_wpreds[wcursor: wcursor + nw]
                    ws = flat_wsims[wcursor: wcursor + nw]
                    wcursor += nw
                text = ctext = None
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
                res = {"extracted_text": text, "n_chars": n,
                       "ok": err is None, "error": err, "char_text": ctext,
                       "branch": "ocr"}
                if emit_boxes:
                    bxs, chs = (page_spans(page, page_chars, lang == "jp")
                                if err is None else ([], []))
                    res.update(width=page["width"], height=page["height"],
                               boxes=bxs, chars=chs)
                done.append(res)

            out = []
            cursor = 0
            for url, layer, n_img in rows:
                imgs = done[cursor: cursor + n_img]
                cursor += n_img
                if layer is None:
                    res = imgs[0]
                else:
                    # fuse: text layer first, then the recognized images
                    # in image order; a pure scan (empty text layer)
                    # yields the image texts alone
                    text, ok, err, branch = layer
                    found = [r for r in imgs
                             if r["extracted_text"] is not None]
                    if found:
                        text = "\n".join(
                            ([text] if text else [])
                            + [r["extracted_text"] for r in found])
                    res = {"extracted_text": text,
                           "n_chars": sum(r["n_chars"] for r in found),
                           "ok": ok, "error": err, "char_text": None,
                           "branch": branch}
                    if emit_boxes:
                        res.update(width=0, height=0, boxes=[], chars=[])
                out.append({"url": url, **res})
            yield pd.DataFrame(out, columns=cols)

    return ocr_batches


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
_DATA_URI_RE = re.compile(rb"data:image/(?:png|jpeg);base64,([A-Za-z0-9+/=]+)")


def has_embedded_png(html_col):
    """JVM-side test for HTML pages carrying data-URI images (the north
    star's 'embedded images'): a cheap contains() that, under
    extract_pages(embedded_images=True), sets a non-PDF page's
    `has_images`, so the stage pulls its images out with page_images."""
    return F.contains(html_col.cast("string"), F.lit(_DATA_URI_MARK))


def has_pdf_images(html_col):
    """JVM-side test for PDFs carrying DCT (JPEG), CCITT fax, JBIG2 or
    JPX image XObjects — the encodings scanned documents actually use.
    A cheap contains() that, under extract_pages(embedded_images=True),
    sets a PDF's `has_images`, so the stage pulls its images out with
    page_images."""
    s = html_col.cast("string")
    return (F.contains(s, F.lit("/DCTDecode"))
            | F.contains(s, F.lit("/CCITTFaxDecode"))
            | F.contains(s, F.lit("/JBIG2Decode"))
            | F.contains(s, F.lit("/JPXDecode"))
            # inline images in RAW content streams (BI /W ... ID ... EI
            # — the simple-generator shape); Flate-compressed content
            # hides inline images from any byte-level prefilter — a
            # documented recall trade for not decoding every PDF
            | F.contains(s, F.lit("BI /")))


def page_images(b: bytes, pdf_password: bytes | str = b"") -> list[bytes]:
    """A born-digital page's embedded images, in page order, as
    PNG/JPEG bytes: a PDF's image XObjects and inline images
    (extract_pdf_images — the scanned-newspaper path), or an HTML
    page's data-URI PNG/JPEG payloads. Undecodable images are skipped,
    and an unextractable PDF yields none (quarantine by omission — the
    page's text layer still comes out)."""
    if b[:5] == b"%PDF-":
        from ..functions.pdftext import extract_pdf_images
        try:
            return extract_pdf_images(b, password=pdf_password)
        except Exception:
            return []
    blobs = []
    for m in _DATA_URI_RE.finditer(b):
        try:
            blob = base64.b64decode(m.group(1), validate=True)
        except Exception:
            continue
        if blob[:8] == PNG_MAGIC or blob[:3] == JPEG_MAGIC:
            blobs.append(blob)
    return blobs


def born_digital_text(data, pdf_password: bytes | str = b""):
    """One non-image page → (extracted_text, ok, error, branch): a %PDF-
    page runs extract_pdf_text (functions/pdftext.py, pure stdlib),
    anything else strip_html. Undecodable documents and a NULL html
    cell quarantine as ok=False, never crash the job."""
    if data is None:
        return None, False, "dom: html is NULL", "dom"
    b = bytes(data)
    if b[:5] != b"%PDF-":
        return strip_html(b), True, None, "dom"
    from ..functions.pdftext import extract_pdf_text
    try:
        stats: dict = {}
        text = extract_pdf_text(b, password=pdf_password, stats=stats)
    except Exception as e:
        return None, False, f"pdf: {e!r}"[:200], "pdf"
    # partial extraction is flagged, never silent: the dropped-stream
    # count rides the error column as a warning while ok stays True
    nq = stats.get("quarantined_streams", 0)
    warn = f"pdf: {nq} stream(s) quarantined (unresolved font)" if nq else None
    return text, True, warn, "pdf"

