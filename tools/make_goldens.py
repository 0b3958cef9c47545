"""Materialize committed golden outputs for the Python-kernel queries
(extract_pages, extract_match_rate, media_features, spellcheck) so the
driver's DuckDB oracle can hash-verify them via read_parquet.

The inputs are fully deterministic (seed-42 synthetic fixture; sf0.01
documents table for spellcheck — the scale the driver gates at), and the
kernels are pure, so the outputs are stable across runs/partitionings —
byte-parity with the plain-Python reference oracle is separately pinned
in tests/. Re-run this script ONLY after an intentional kernel change,
then re-run tools/check_queries.py.

Usage: python tools/make_goldens.py
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from effocr_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness-gate scale
GOLDEN = ["extract_pages", "extract_match_rate", "media_features",
          "spellcheck", "spellcheck_filedict", "word_silver", "trocr_eval", "hard_negatives", "srp_neardup", "audio_features", "coco_sink_roundtrip", "extract_pdf", "extract_pdf_scanned", "extract_embedded", "jpeg_features", "pq_topk"]


def main() -> None:
    spark = get_spark("goldens", cpus=8, shuffle_partitions=8)
    qs = entrymod.queries()
    os.makedirs(entrymod.GOLDEN_DIR, exist_ok=True)
    for name in GOLDEN:
        out = os.path.join(entrymod.GOLDEN_DIR, name)
        if os.path.exists(out):
            shutil.rmtree(out)
        df = qs[name](spark, SF_DIR)
        df.repartition(1).write.mode("overwrite").parquet(out)
        # drop Spark's bookkeeping files; keep only the data file
        for f in os.listdir(out):
            if not f.endswith(".parquet"):
                os.remove(os.path.join(out, f))
        n = spark.read.parquet(out).count()
        print(f"golden {name}: {n} rows → {out}")
    spark.stop()


if __name__ == "__main__":
    main()
