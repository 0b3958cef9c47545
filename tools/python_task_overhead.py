"""Measure the fixed cost a Python stage adds to a job.

Runs at `local[nproc - 1]` over `2 * cpus` partitions. Times N
alternating runs of a JVM-only job (range -> sum) and of the same job
with an identity `mapInPandas` in front of the sum, whose function
imports `effocr_spark` the way every extraction and query UDF does.
Both jobs are warmed first (worker start-up is not counted). Prints
both medians and their difference: the per-job cost of the Python
stage's tasks before and after their rows, with no per-row work.

Usage: python tools/python_task_overhead.py [n_runs]   (default 15)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from effocr_spark.session import get_spark  # noqa: E402

ROWS_PER_PARTITION = 1000


def _identity(batches):
    import effocr_spark  # noqa: F401
    for pdf in batches:
        yield pdf


def main() -> None:
    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    cpus = max(1, (os.cpu_count() or 2) - 1)
    parts = 2 * cpus
    spark = get_spark("python_task_overhead", cpus=cpus)
    df = spark.range(0, parts * ROWS_PER_PARTITION, 1, parts)
    # a fresh DataFrame per run: re-collecting one would reuse its shuffle
    jobs = {
        "jvm_only": lambda: df.agg(F.sum("id")).collect(),
        "with_python": lambda: df.mapInPandas(_identity, "id long")
        .agg(F.sum("id")).collect(),
    }
    for job in jobs.values():  # start the workers, compile the plans
        for _ in range(3):
            job()
    times: dict[str, list[float]] = {name: [] for name in jobs}
    for i in range(n_runs):
        order = list(jobs) if i % 2 == 0 else list(jobs)[::-1]
        for name in order:
            t0 = time.perf_counter()
            jobs[name]()
            times[name].append(time.perf_counter() - t0)
    med = {name: statistics.median(ts) for name, ts in times.items()}
    print(f"local[{cpus}], {parts} partitions, {n_runs} runs each")
    for name, ts in times.items():
        print(f"{name:12s} median {med[name]:.3f} s  "
              f"(min {min(ts):.3f}, max {max(ts):.3f})")
    print(f"python stage fixed cost: "
          f"{med['with_python'] - med['jvm_only']:.3f} s per job")
    spark.stop()


if __name__ == "__main__":
    main()
