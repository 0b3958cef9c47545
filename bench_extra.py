"""Per-query measurement harness for optimization work (guide §1).

NOT the driver bench — bench.py stays frozen. This tool replicates
bench.py's warm-JVM methodology for the headline queries but adds:
 - split timing: `build` (the driver-side query construction, which for
   several queries includes fixture synthesis and eager collects) vs
   `action` (the final count, same action bench.py times) — the sum is
   what bench.py measures as the query's latency;
 - `--noop` to time via a noop sink (computes every column; §1.4)
   instead of count;
 - `--plans DIR` to dump explain("formatted") per query;
 - `--queries a,b,c` to time a subset (fast iteration);
 - `--repeats N` best-of (shared-host noise).

Usage: python bench_extra.py [--queries q1,q2] [--repeats 2]
                             [--plans plans/r07] [--suffix _before]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "pricing_summary", "top_customers", "gt_pred_eval", "asof_join",
    "exact_dedup", "minhash_sigs", "lsh_buckets", "lsh_candidates",
    "simhash", "doc_stats", "langid_confusion", "cosine_topk",
    "centroid_knn", "knn_topk", "srp_neardup", "envelope_join",
    "coco_spans", "events_daily", "hourly_windows",
    "spellcheck_filedict", "word_silver", "video_metadata", "ivf_topk",
    "extract_pdf_scanned", "pq_topk", "extract_pdf",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    from effocr_spark.session import get_spark, warm_for_queries
    import __spark_entry__ as entrymod

    names = args.queries.split(",") if args.queries else HEADLINE
    spark = get_spark("bench_extra", cpus=CPUS)
    warm_for_queries(spark, CPUS)
    qs = entrymod.queries()

    # warm exactly like bench.py
    qs["pricing_summary"](spark, SF_DIR).count()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    qs["pricing_summary"](spark, SF_DIR).count()

    results: dict[str, dict] = {}
    for name in names:
        best = None
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t_build = time.time() - t0
            t1 = time.time()
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            t_action = time.time() - t1
            spark.sparkContext.setJobDescription(None)
            rec = {"total": round(t_build + t_action, 3),
                   "build": round(t_build, 3),
                   "action": round(t_action, 3), "rows": n}
            if best is None or rec["total"] < best["total"]:
                best = rec
        results[name] = best
        log(f"{name}: total={best['total']}s build={best['build']}s "
            f"action={best['action']}s rows={best['rows']}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            with open(os.path.join(
                    args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan)

    print(json.dumps(results, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
