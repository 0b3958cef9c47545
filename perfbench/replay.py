"""Kernel replay: single-core calls to the pipeline's public kernel
functions on a seeded sample of a workload's own rows.

Each sampled unit is replayed `reps` times and the median of the
per-repetition means is reported, so one descheduling does not set a
figure. The per-row costs also give the workload's kernel
core-seconds, from which `pipeline.overhead_s` is derived.
"""

from __future__ import annotations

import base64
import re
import statistics
import time
from collections import Counter, defaultdict

import numpy as np

from effocr_spark.functions import assemble as asm
from effocr_spark.functions import boxes as boxes_fn
from effocr_spark.functions import crops as crops_fn
from effocr_spark.functions import recognize as rec
from effocr_spark.functions import pdftext
from effocr_spark.functions.domstrip import strip_html
from effocr_spark.functions.lineseg import (column_strip_gray_triples,
                                            line_strip_gray_triples)
from effocr_spark.functions.pdftext import (extract_pdf_images,
                                            extract_pdf_text)
from effocr_spark.operators import extract as ex
from effocr_spark.synth import model as synthmodel

from .workloads import source_url

CONF_THRES, IOU_THRES = 0.35, 0.01
_DATA_URI = re.compile(rb"data:image/(?:png|jpeg);base64,([A-Za-z0-9+/=]+)")


def _timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, (time.perf_counter() - t0) * 1000


def _median_of_means(samples: list[list[float]]) -> float:
    return statistics.median(sum(s) / len(s) for s in samples) \
        if samples and samples[0] else 0.0


def _localize_parts(blob: bytes, lang: str) -> dict:
    """One page through localize_page's steps, each timed on its own."""
    vertical = lang == "jp"
    im, t_dec = _timed(ex.decode_image, blob)
    triples, t_seg = _timed(column_strip_gray_triples if vertical
                            else line_strip_gray_triples, im)
    t_head = t_nms = t_crop = 0.0
    cand = kept = 0
    for strip, gray, _ in triples:
        head, dt = _timed(synthmodel.synthetic_yolo_head, gray,
                          vertical=vertical)
        t_head += dt
        det, dt = _timed(boxes_fn.non_max_suppression, head,
                         conf_thres=CONF_THRES, iou_thres=IOU_THRES,
                         max_det=1000)
        t_nms += dt
        cand += int((head[:, 4] > CONF_THRES).sum())
        kept += det.shape[0]
        char_det = det[det[:, 5] == synthmodel.CLS_CHAR]
        word_det = det[det[:, 5] == synthmodel.CLS_WORD]
        # crop step = reading-order sort of the char boxes + the crops
        t0 = time.perf_counter()
        if not char_det.shape[0]:
            boxes = np.zeros((0, 4), np.float32)
        elif lang == "en":
            boxes, _ = asm.en_preprocess(char_det[:, :4], word_det[:, :4],
                                         vertical=vertical)
        else:
            boxes = asm.jp_preprocess(char_det[:, :4], vertical=vertical)
        crops_fn.extract_crops(strip, boxes, vertical=vertical)
        t_crop += (time.perf_counter() - t0) * 1000
    return {"decode": t_dec, "lineseg": t_seg, "head": t_head,
            "nms": t_nms, "crops": t_crop, "strips": len(triples),
            "cand": cand, "kept": kept}


def replay_ocr(images: list[tuple[bytes, str]], protos: dict,
               reps: int) -> dict:
    """Sub-layer costs of the OCR kernel over `images` [(bytes, lang)]."""
    if not images:
        return {}
    per_rep = defaultdict(list)
    counts: dict = {}
    for _ in range(reps):
        loc, parts, pages, crops, langs = [], [], [], [], []
        for blob, lang in images:
            try:
                page, dt = _timed(ex.localize_page, blob, lang,
                                  lang == "jp", CONF_THRES, IOU_THRES)
            except Exception:  # quarantined page: the pipeline's path
                continue
            loc.append(dt)
            parts.append(_localize_parts(blob, lang))
            pages.append((page, lang))
            crops.extend(page["crops"])
            langs.extend([lang] * page["n_chars"])
        t0 = time.perf_counter()
        embs = [rec.embed_crops(crops[s: s + ex.ENCODE_SUB_BATCH])
                for s in range(0, len(crops), ex.ENCODE_SUB_BATCH)]
        t_enc = (time.perf_counter() - t0) * 1000
        emb = np.concatenate(embs) if embs else np.zeros((0, 1))
        langs_arr = np.asarray(langs)
        chars = [""] * len(crops)
        t_knn = 0.0
        for lang in set(langs):
            sel = np.nonzero(langs_arr == lang)[0]
            idx, dt = _timed(rec.knn_lookup, emb[sel], protos[lang][1])
            t_knn += dt
            for pos, k in zip(sel, idx):
                chars[pos] = protos[lang][0][int(k)]
        t_asm, cur = [], 0
        for page, lang in pages:
            n = page["n_chars"]
            _, dt = _timed(ex.assemble_page, chars[cur: cur + n], page,
                           lang, None, None)
            cur += n
            t_asm.append(dt)
        n_crops = max(1, len(crops))
        n_strips = max(1, sum(p["strips"] for p in parts))
        per_rep["localize"].append(loc)
        for k in ("decode", "lineseg", "crops"):
            per_rep[k].append([p[k] for p in parts])
        per_rep["head_strip"].append([sum(p["head"] for p in parts)
                                      / n_strips])
        per_rep["nms_strip"].append([sum(p["nms"] for p in parts)
                                     / n_strips])
        per_rep["enc_crop"].append([t_enc / n_crops])
        per_rep["knn_crop"].append([t_knn / n_crops])
        per_rep["assemble"].append(t_asm)
        counts = {"pages": len(pages), "crops": len(crops),
                  "strips": sum(p["strips"] for p in parts),
                  "cand": sum(p["cand"] for p in parts),
                  "kept": sum(p["kept"] for p in parts)}
    m = {k: _median_of_means(v) for k, v in per_rep.items()}
    pages_n = max(1, counts["pages"])
    crops_per_page = counts["crops"] / pages_n
    m.update({
        "strips_per_page": counts["strips"] / pages_n,
        "crops_per_page": crops_per_page,
        "nms_keep_ratio": counts["kept"] / max(1, counts["cand"]),
        # one OCR page, end to end through the kernel
        "page_ms": (m["localize"] + m["assemble"]
                    + crops_per_page * (m["enc_crop"] + m["knn_crop"])),
    })
    return m


def _codec(blob: bytes) -> str:
    for key, name in ((b"/JPXDecode", "jpx"), (b"/JBIG2Decode", "jbig2"),
                      (b"/CCITTFaxDecode", "ccitt")):
        if key in blob:
            return name
    return "dct"


def _sample(idx: list[int], k: int, rng) -> list[int]:
    return list(rng.choice(idx, size=k, replace=False)) \
        if len(idx) > k else idx


def replay_workload(pages, expected, protos: dict, seed: int,
                    reps: int = 3, sample: int = 32) -> dict:
    """Replay a seeded sample of one workload's rows → per-layer figures
    plus `kernel_core_s`, the summed kernel time of every input row."""
    urls = pages.column("url").to_pylist()
    html = pages.column("html").to_pylist()
    lang = pages.column("lang").to_pylist()
    kind_of = dict(zip(expected.column("url").to_pylist(),
                       expected.column("kind").to_pylist()))
    by_kind = defaultdict(list)
    for i, u in enumerate(urls):
        by_kind[kind_of[u]].append(i)
    rng = np.random.RandomState(seed % (2**31 - 1))
    out: dict = {}
    core_ms = 0.0

    # fixture replicas: every distinct source once, weighted by count
    def distinct(kinds):
        first, weight = {}, Counter()
        for k in kinds:
            for i in by_kind.get(k, ()):
                src = source_url(urls[i])
                first.setdefault(src, i)
                weight[src] += 1
        return [(first[s], weight[s]) for s in sorted(first)]

    # --- OCR kernel on the images the workload routes to it
    images, img_weight = [], []
    ocr_rows = _sample(by_kind.get("ocr", []), sample, rng)
    for i in ocr_rows:
        images.append((html[i], lang[i]))
        img_weight.append(len(by_kind["ocr"]) / len(ocr_rows))
    emb_rows = _sample(by_kind.get("embedded", []), sample, rng)
    uri_counts = []
    for i in by_kind.get("embedded", []) + by_kind.get("dom", []):
        uri_counts.append(len(_DATA_URI.findall(html[i])))
    for i in emb_rows:
        for m in _DATA_URI.finditer(html[i]):
            images.append((base64.b64decode(m.group(1)), lang[i]))
            img_weight.append(len(by_kind["embedded"]) / len(emb_rows))
    scans = distinct(["scan"])
    img_ms = defaultdict(list)
    scan_images = 0
    for i, w in scans:
        blobs, dt = _timed(extract_pdf_images, html[i])
        for _ in range(reps - 1):
            dt = min(dt, _timed(extract_pdf_images, html[i])[1])
        img_ms[_codec(html[i])].append(dt)
        core_ms += w * dt
        scan_images += w * len(blobs)
        for b in blobs:
            images.append((b, lang[i] or "en"))
            img_weight.append(w)
    ocr = replay_ocr(images, protos, reps)
    if ocr:
        core_ms += ocr["page_ms"] * sum(img_weight)
    for k in ("jpx", "jbig2", "ccitt", "dct"):
        v = img_ms.get(k)
        out[f"pdftext.images_ms_per_doc.{k}"] = \
            statistics.mean(v) if v else 0.0
    n_docs = len(urls)
    out["extract.embedded_rows_per_page"] = \
        (sum(uri_counts) + scan_images) / n_docs if n_docs else 0.0

    out.update({
        "extract.localize_ms_per_page": ocr.get("localize", 0.0),
        "extract.decode_ms_per_page": ocr.get("decode", 0.0),
        "lineseg.ms_per_page": ocr.get("lineseg", 0.0),
        "lineseg.strips_per_page": ocr.get("strips_per_page", 0.0),
        "model.head_ms_per_strip": ocr.get("head_strip", 0.0),
        "boxes.nms_ms_per_strip": ocr.get("nms_strip", 0.0),
        "boxes.nms_keep_ratio": ocr.get("nms_keep_ratio", 0.0),
        "crops.ms_per_page": ocr.get("crops", 0.0),
        "crops.per_page": ocr.get("crops_per_page", 0.0),
        "recognize.encode_ms_per_crop": ocr.get("enc_crop", 0.0),
        "recognize.knn_ms_per_crop": ocr.get("knn_crop", 0.0),
        "assemble.ms_per_page": ocr.get("assemble", 0.0),
    })
    loc = ocr.get("localize", 0.0)
    parts = (ocr.get("decode", 0.0) + ocr.get("lineseg", 0.0)
             + ocr.get("crops", 0.0) + ocr.get("strips_per_page", 0.0)
             * (ocr.get("head_strip", 0.0) + ocr.get("nms_strip", 0.0)))
    out["extract.localize_accounted_share"] = parts / loc if loc else 0.0

    # --- DOM strip (plain and embedded-image pages alike)
    dom_rows = _sample(by_kind.get("dom", []) + by_kind.get("embedded", []),
                       sample * 4, rng)
    dom_ms = [[_timed(strip_html, html[i])[1] for i in dom_rows]
              for _ in range(reps)]
    out["domstrip.ms_per_page"] = _median_of_means(dom_ms)
    core_ms += out["domstrip.ms_per_page"] * (
        len(by_kind.get("dom", [])) + len(by_kind.get("embedded", [])))

    # --- PDF text layer: R6 apart, quarantines counted
    def pdf_text(rows_w):
        times, quarantined, total = [], 0, 0
        for i, w in rows_w:
            best = None
            for _ in range(reps):
                # cold cost: the R6 password hash is memoised per process
                getattr(pdftext._hash_2b, "cache_clear", lambda: None)()
                t0 = time.perf_counter()
                try:
                    extract_pdf_text(html[i], stats={})
                    failed = False
                except Exception:
                    failed = True
                dt = (time.perf_counter() - t0) * 1000
                best = dt if best is None else min(best, dt)
            times.append((best, w))
            quarantined += w * failed
            total += w
        return times, quarantined, total

    text, q_text, n_text = pdf_text(distinct(["pdf", "scan"]))
    r6, q_r6, n_r6 = pdf_text(distinct(["pdf_r6"]))
    out["pdftext.text_ms_per_doc"] = \
        sum(t * w for t, w in text) / n_text if n_text else 0.0
    out["pdftext.r6_ms_per_doc"] = \
        sum(t * w for t, w in r6) / n_r6 if n_r6 else 0.0
    out["pdftext.quarantine_share"] = \
        (q_text + q_r6) / (n_text + n_r6) if n_text + n_r6 else 0.0
    core_ms += sum(t * w for t, w in text) + sum(t * w for t, w in r6)
    out["kernel_core_s"] = core_ms / 1000
    return out
