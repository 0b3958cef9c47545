"""Skew-defusal measurement: extraction over an adversarially
host-clustered pages layout, with vs without the salted repartition.

Usage: python tools/skew_bench.py [n_pages]
Writes nothing; prints one RESULT line. Measured 2026-08-16 on this
container (150k pages, local[32]): no-salt 68.5s vs salted 6.9s — 9.9x,
because the Zipf-skewed image-heavy hosts pin whole OCR-cost clusters to
a handful of tasks unless rows are hash-spread first (PLANS.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from effocr_spark import pipeline  # noqa: E402
from effocr_spark.session import get_spark  # noqa: E402
from effocr_spark.synth.pages import pages_df  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    spark = get_spark("skewbench", cpus=32)
    pages, _ = pages_df(spark, n, seed=42)
    host = F.regexp_extract("url", r"https://([^.]*)\.", 1)
    pages.repartition(64, host).write.mode("overwrite").parquet("/tmp/skew_pages")
    clus = spark.read.parquet("/tmp/skew_pages")
    protos = pipeline.broadcast_prototypes(spark)
    pipeline.extract_pages(clus.limit(512), protos) \
        .write.mode("overwrite").parquet("/tmp/skew_out")  # warm

    def run(salt):
        best = None
        for _ in range(2):
            t0 = time.time()
            pipeline.extract_pages(clus, protos, salt_partitions=salt) \
                .write.mode("overwrite").parquet("/tmp/skew_out")
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best

    t_nosalt = run(None)
    t_salt = run(64)
    print(f"RESULT host-clustered local[32], {n} pages: "
          f"no-salt {t_nosalt:.1f}s, salted {t_salt:.1f}s, "
          f"speedup {t_nosalt / t_salt:.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
