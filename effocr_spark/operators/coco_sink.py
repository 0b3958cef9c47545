"""COCO-JSON results sink (SURVEY §2.1 K2): predicted boxes + text →
the reference's `inference_coco.json` document.

Parity target: utils/coco_utils.py:3-45 (skeleton +
entry builders) and infer_effocr.py:558-577 (the writer
loop: one image entry per page carrying the full transcription, one
annotation entry per char box carrying its recognized text; categories =
[{id: 0, name: "char"}]).

Spark-first split:
 - entry construction is pure JVM struct/to_json expressions over the
   spans table — no Python in the data path;
 - `coco_json_lines` is the scale sink: one self-contained JSON fragment
   per image (JSONL), an ordinary distributed write;
 - `write_coco_json` assembles the reference's single nested document —
   inherently a driver-side artifact (one JSON file), so it streams the
   distributed per-image fragments through toLocalIterator instead of
   collect(), and is documented as the export-sized path (the reference
   itself only writes it for eval-sized runs).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F

CATEGORIES = [{"id": 0, "name": "char"}]

# spans schema contract (one row per predicted box):
#   url string, image_id long, width int, height int, page_text string,
#   anno_id long, x int, y int, w int, h int, text string, category_id int


def _segmentation(x: Column, y: Column, w: Column, h: Column) -> Column:
    """[[x, y, x+w, y, x+w, y+h, x, y+h]] — coco_utils.py:15."""
    return F.array(F.array(x, y, x + w, y, x + w, y + h, x, y + h))


def anno_struct() -> Column:
    """COCO annotation entry (coco_utils.py:12-27, text variant) from
    span columns x/y/w/h/anno_id/image_id/category_id/text."""
    x, y = F.col("x").cast("long"), F.col("y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    return F.struct(
        _segmentation(x, y, w, h).alias("segmentation"),
        (w * h).alias("area"),
        F.lit(0).alias("iscrowd"),
        F.col("image_id").cast("long").alias("image_id"),
        F.array(x, y, w, h).alias("bbox"),
        F.col("category_id").cast("int").alias("category_id"),
        F.col("anno_id").cast("long").alias("id"),
        F.lit(1.0).alias("score"),
        F.col("text").alias("text"),
    )


def image_struct() -> Column:
    """COCO image entry (coco_utils.py:30-45, text variant) from span
    columns url/width/height/image_id/page_text."""
    return F.struct(
        F.col("url").alias("file_name"),
        F.col("height").cast("int").alias("height"),
        F.col("width").cast("int").alias("width"),
        F.col("image_id").cast("long").alias("id"),
        F.col("page_text").alias("text"),
    )


def coco_entries(spans: DataFrame) -> DataFrame:
    """spans → one row per image: (image struct, array<annotation
    struct> in anno_id order). One shuffle (groupBy image_id); every
    expression is JVM-side."""
    return (
        spans.groupBy("image_id")
        .agg(
            F.first(image_struct()).alias("image"),
            F.array_sort(F.collect_list(F.struct(
                F.col("anno_id").alias("_k"), anno_struct().alias("a")
            ))).alias("_annos"),
        )
        .select("image_id", "image",
                F.expr("transform(_annos, p -> p.a)").alias("annotations"))
    )


def coco_json_lines(spans: DataFrame) -> DataFrame:
    """The scale sink: one JSON fragment per image —
    `{"image": {...}, "annotations": [...]}` — written as ordinary
    distributed text (df.write.text). Downstream consumers stream-merge;
    nothing funnels through the driver."""
    entries = coco_entries(spans)
    return entries.select(
        F.to_json(F.struct(F.col("image"), F.col("annotations")))
        .alias("value"))


def write_coco_json(spans: DataFrame, path: str) -> None:
    """The reference-shaped single document (inference_coco.json,
    infer_effocr.py:576-577): skeleton + images[] + annotations[] +
    categories. Export-sized only — a single JSON file is a driver-side
    artifact by definition; fragments are computed distributed and
    STREAMED (toLocalIterator, one partition in memory at a time), never
    collect()ed."""
    entries = coco_entries(spans).select(
        F.to_json(F.col("image")).alias("im"),
        F.to_json(F.col("annotations")).alias("an"),
    )
    images, annotations = [], []
    for row in entries.toLocalIterator():
        images.append(json.loads(row["im"]))
        annotations.extend(json.loads(row["an"]))
    doc = {
        "info": {"": ""},
        "licenses": [{"": ""}],
        "images": images,
        "annotations": annotations,
        "categories": CATEGORIES,
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=2)


def extraction_spans(result: DataFrame) -> DataFrame:
    """Adapter: extract_pages(emit_boxes=True) output (url,
    extracted_text, width, height, boxes array<[x,y,w,h]>, chars
    array<string>) → the spans contract above.

    Ids are unique-but-not-dense (monotonically_increasing_id — no
    global window, no single-task funnel; COCO requires uniqueness, not
    density, and the reference's own counter is enumeration-order too).
    Anno ids come from a second monotonic id on the exploded frame:
    explode emits boxes in reading order within each page partition, so
    per-image anno-id order == reading order, which coco_entries' sort
    preserves."""
    imgs = (result.filter(F.col("ok") & (F.size("chars") > 0))
            .withColumn("_img_seq", F.monotonically_increasing_id()))
    exploded = imgs.select(
        "url", "_img_seq",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("extracted_text").alias("page_text"),
        F.posexplode(F.arrays_zip("boxes", "chars")).alias("pos", "z"),
    )
    return exploded.select(
        "url",
        F.col("_img_seq").alias("image_id"),
        "width", "height", "page_text",
        F.monotonically_increasing_id().alias("anno_id"),
        F.col("z.boxes")[0].cast("int").alias("x"),
        F.col("z.boxes")[1].cast("int").alias("y"),
        F.col("z.boxes")[2].cast("int").alias("w"),
        F.col("z.boxes")[3].cast("int").alias("h"),
        F.col("z.chars").alias("text"),
        F.lit(0).alias("category_id"),
    )
