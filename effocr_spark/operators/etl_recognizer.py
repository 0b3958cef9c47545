"""Recognizer-dataset formatting ETL as a Spark job.

Parity with format_effocr_recognizer_dataset.py: crop
one image patch per character annotation in reading order, labeled by
the ground-truth text (:311-349); render synthetic glyphs per charset
(:208-239) with the recurring-hash filter (:195-205); emit the
ImageFolder-equivalent TABLE (codepoint int, source 'paired'|'render',
image binary) — a partitioned table replaces the directory layout
(SURVEY §1.1 "Recognizer training dataset").

Arity violations (annotation count != text length, the reference's
assert at :335) are quarantined into a violations count, not crashed.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..synth.font import render_line
from ..synth.imgcodec import decode_png, encode_png, to_rgb

DATASET_SCHEMA = "codepoint int, source string, image binary"


def load_charset(spark: SparkSession, paths: list[str] | str) -> list[str]:
    """S5 charset source, the reference's tab-file reader as a Spark
    ingestion (format_effocr_recognizer_dataset.py:125-128 load_chars +
    :362-366 collection): each file is one entry per line, tab-separated
    fields, the CHARACTER is the last field. Union over all files,
    sorted(set(...)) — ready to broadcast. spark.read.text keeps the
    path cluster-readable (HDFS/S3), unlike open()."""
    if isinstance(paths, str):
        paths = [paths]
    rows = (
        spark.read.text(paths)
        .select(F.element_at(F.split("value", "\t"), -1).alias("c"))
        .filter(F.length("c") > 0)
        .distinct()
        .collect()
    )
    return sorted(r["c"] for r in rows)


def harmonize_charset(all_chars, extra=(), remove=()) -> list[str]:
    """E1 union + except (:371-382): sorted(set(all + extra) - remove).
    The jp path's digits/latin/extra_chars/chars_to_remove flow is this
    exact shape."""
    return sorted((set(all_chars) | set(extra)) - set(remove))


def save_charset(chars: list[str], path: str) -> None:
    """Reference output format (:376-381): one DECIMAL codepoint per
    line."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(str(ord(c)) for c in chars))


def paired_crops(images: DataFrame, annotations: DataFrame) -> DataFrame:
    """images(id, png, text) × annotations(image_id, category_id,
    bbox[x,y,w,h]) → (codepoint, 'paired', crop png).

    Char annotations (category_id=0) sort in reading order by bbox x
    (format_effocr_recognizer_dataset.py:328-334); the i-th crop gets
    text[i]'s codepoint. Pages failing the arity check are dropped
    (counted by the caller via anti-join if needed)."""
    chars = annotations.filter(F.col("category_id") == 0)
    grouped = chars.groupBy(F.col("image_id")).agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("bbox")[0].alias("x"), F.col("bbox").alias("bbox")
        ))).alias("boxes"))
    joined = images.join(grouped, images.id == grouped.image_id, "inner") \
        .select("id", "png", "text", "boxes")

    def crop_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cps, srcs, blobs = [], [], []
            for png, text, boxes in zip(pdf["png"], pdf["text"], pdf["boxes"]):
                clean = text.replace(" ", "")
                if len(boxes) != len(clean):
                    continue  # arity quarantine (:335 assert → skip)
                img = to_rgb(decode_png(bytes(png)))
                im_h, im_w = img.shape[:2]
                for ch, row in zip(clean, boxes):
                    x, y, w, h = [int(v) for v in row["bbox"]]
                    # clamp before slicing: negative x/y are legal in
                    # COCO and would numpy-wrap to a wrong-region crop;
                    # the reference clamps the same way
                    # (format_effocr_recognizer_dataset.py:346)
                    x0, y0 = max(x, 0), max(y, 0)
                    x1, y1 = min(x + w, im_w), min(y + h, im_h)
                    crop = img[y0:y1, x0:x1]
                    if crop.size == 0:
                        continue
                    cps.append(ord(ch))
                    srcs.append("paired")
                    blobs.append(encode_png(crop))
            yield pd.DataFrame({"codepoint": cps, "source": srcs,
                                "image": blobs})

    return joined.mapInPandas(crop_batches, DATASET_SCHEMA)


def rendered_glyphs(spark: SparkSession, charset: str,
                    ttf_path: str | None = None) -> DataFrame:
    """Synthetic renders per charset char (:208-239), with the
    recurring-render-hash filter (:195-205): hashes seen more than twice
    (blank/degenerate renders) are dropped.

    ttf_path: restrict the charset to the font's actual cmap coverage
    first (S6 source; get_unicode_coverage_from_ttf parity,
    format_effocr_recognizer_dataset.py:188-192) — the reference never
    renders a glyph the font cannot draw."""
    if ttf_path is not None:
        from ..functions.ttf import font_covered_charset
        charset = font_covered_charset(list(charset), ttf_path)
    rows = []
    for ch in charset:
        img, _, _ = render_line(ch)
        rows.append((ord(ch), "render", bytearray(encode_png(img))))
    df = spark.createDataFrame(rows, DATASET_SCHEMA)
    hashes = df.groupBy(F.md5(F.col("image")).alias("h")) \
               .agg(F.count("*").alias("n"))
    recurring = hashes.filter(F.col("n") > 2).select("h")
    return df.join(F.broadcast(recurring),
                   F.md5(F.col("image")) == F.col("h"), "left_anti") \
             .select("codepoint", "source", "image")


def hard_negatives(spark: SparkSession, chars: list[str],
                   prototypes: np.ndarray, k: int = 8) -> DataFrame:
    """Hard-negative mining: for every prototype char, its k nearest
    OTHER chars by embedding inner product
    (train_effocr_recognizer.py:25-44,389-404; sink
    analog of hns.txt, :43-44). Runs through the shared k>1 kNN kernel
    (knn_topk, exclude_self) — the same ranking the GPU retrieval path
    uses. Driver-side matmul (K×K is tiny), result as a table instead of
    a text file."""
    from ..functions.recognize import knn_topk

    order, _ = knn_topk(prototypes, prototypes, k=k, exclude_self=True)
    rows = [(c, [chars[j] for j in order[i]]) for i, c in enumerate(chars)]
    return spark.createDataFrame(rows, "char string, negatives array<string>")


def build_recognizer_dataset(spark: SparkSession, images: DataFrame,
                             annotations: DataFrame, charset: str,
                             ttf_path: str | None = None) -> DataFrame:
    """paired crops ∪ synthetic renders — the full training table.
    ttf_path gates the render branch on real font coverage (S6)."""
    return paired_crops(images, annotations) \
        .unionByName(rendered_glyphs(spark, charset, ttf_path=ttf_path))
