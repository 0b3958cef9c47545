"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the 100 TB design point (see SURVEY.md §4):
 - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
 - Arrow on, bounded record batches (the Arrow batch replaces the
   reference's fixed 64-crop batching, infer_effocr_onnx_multi.py:143-158)
 - shuffle partitions sized to cores locally; on a real cluster this is
   set to ~2-3x total executor cores via spark-submit conf

`get_spark` submits no job. A harness that times individual queries
calls `warm_for_queries` once, right after it, so one-time session
costs stay out of its timed regions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cap Arrow batch size: one page can explode into hundreds of 224x224
# crops inside the OCR UDF; bounding rows-per-batch bounds UDF peak memory
# (SURVEY.md §7.4 "Memory in UDFs").
ARROW_MAX_RECORDS = 256


def get_spark(app_name: str = "effocr_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session. Submits no job: the first action
    pays the JVM's first-action cost and starts the Python workers."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # Pin per-worker BLAS/OMP threads to 1: tasks ARE the parallelism.
    # The reference does the same with ONNX intra_op_num_threads
    # (localizer_engine.py:18-20) — cores = tasks x intra_op must not
    # oversubscribe (SURVEY.md §4).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Make effocr_spark importable in executor Python workers regardless
    # of the launch cwd: local-mode workers inherit this process env, so
    # prepending the package root to PYTHONPATH is the local analog of
    # `spark-submit --py-files effocr_spark.zip` (the documented cluster
    # launch, scripts/run_extraction.py). Without it, running the CLI
    # from outside the repo root dies with ModuleNotFoundError in the
    # first UDF task.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else ""))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS))
        # broadcast threshold: prototype/dim tables are tiny; 64MB headroom
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # UDF-compute-bound scans (strip_html / OCR over page bytes) need
        # far finer input splits than the IO-oriented 128MB default: a
        # 128MB split of ~3KB pages is ~45k rows of Python work pinned to
        # ONE task. 4MB keeps every core fed without any shuffle.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def warm_for_queries(spark: SparkSession, cpus: int) -> None:
    """Pay a session's one-time costs before any query is timed: one
    Python worker per core with the UDF modules imported, then one row
    through whole-stage codegen for the string/array expression
    families the queries use.

    Called once per session by the query harnesses (`bench.py`,
    `bench_extra.py`), right after `get_spark` and before their first
    query, so these costs land in no query's timing. Extraction skips
    it: `extract_pages` uses none of those expressions and never
    imports `operators.multimodal`, and every extraction caller runs a
    warm pass of its own. On 4 vCPUs at `local[3]`, running both in
    every session took perfbench's born_digital setup from 8.3 s to
    18.3 s (medians of 10 runs). A session that skips them pays ~6.5 s
    of it back in its first pass (first planning, Python worker start),
    so its time to first output drops only from 20.5 s to 19.1 s.

    - Workers: a cold worker pays fork + pandas/pyarrow imports +
      importing the effocr_spark UDF modules, so the first wide Python
      stage of a session pays a fleet cold start (~2.5-3 s at
      local[32]); the reused worker pool (spark.python.worker.reuse,
      default on) keeps the fleet warm for the session's lifetime.
      Importing the package also installs `zipcache` in each worker,
      so their later tasks skip the ~0.3 s pyspark.zip re-read.
    - Codegen: the first non-trivial generated class a session
      compiles pays ~1.5-2 s of one-time Janino/JIT warm-up (local[32]:
      a `split+array_intersect` projection costs 2.07 s cold, a bigger
      four-intersect one 0.26 s right after), which would otherwise
      land on whichever timed query compiles first.

    Best-effort: a failure never blocks the caller."""
    from pyspark.sql import functions as F

    def _warm(it):
        # the imports ARE the warmup: every UDF module the pipeline
        # ships, loaded once per pooled worker process
        import effocr_spark.operators.extract  # noqa: F401
        import effocr_spark.operators.multimodal  # noqa: F401
        for pdf in it:
            yield pdf

    try:
        spark.sparkContext.setJobDescription("session: python worker warmup")
        (spark.range(cpus).repartition(cpus)
         .mapInPandas(_warm, "id long").count())
        spark.sparkContext.setJobDescription(None)
    except Exception:
        pass
    try:
        toks = F.split(F.lower(F.lit("warm up row")), " ")
        arr = F.array(F.lit(1.0), F.lit(2.0))
        # collect(), NOT count(): count lets the optimizer prune the
        # projection away and nothing compiles (guide §1.4)
        (spark.range(1).select(
            F.size(F.array_intersect(toks, F.array(F.lit("warm")))).alias("a"),
            F.lit("x").rlike("[a-z]").alias("b"),
            F.md5(F.concat_ws("|", toks)).alias("c"),
            F.aggregate(F.zip_with(arr, arr, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            F.levenshtein(F.lit("ab"), F.lit("ba")).alias("e"),
        ).collect())
    except Exception:
        pass
