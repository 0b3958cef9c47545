"""Per-layer metrics of a traced run, each measured from outside the
program: spans around the benchmark's own calls, the formatted plan,
the Spark event log, kernel replay, and a walk of the run directory."""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

from perfbench import replay, tracing

MB = 2**20
# the workload whose traced run also measures the lineage layer:
# run_extraction stopped halfway, resumed and read back over its pages
LINEAGE_WORKLOAD = "born_digital"
# warm-up of the traced session: it runs in the JVM the untraced
# passes already warmed, so it needs less than a fresh one
REWARM_SECONDS = 10.0

# name → unit; the order and the set are the benchmark's contract
UNITS = {
    "session.get_spark_s": "s",
    "pipeline.broadcast_prototypes_s": "s",
    "pipeline.plan_exchanges": "count",
    "pipeline.plan_scans": "count",
    "pipeline.plan_python_stages": "count",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.tasks_failed": "count",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.shuffle_read_mb": "MB",
    "pipeline.arrow_to_python_mb": "MB",
    "pipeline.arrow_from_python_mb": "MB",
    **{f"pipeline.executor_run_s.{k}": "s" for k in tracing.LAYERS},
    "pipeline.ocr_task_p50_s": "s",
    "pipeline.ocr_task_max_s": "s",
    "pipeline.ocr_task_skew": "ratio",
    "pipeline.gc_s": "s",
    "pipeline.peak_rss_mb": "MB",
    "pipeline.overhead_s": "s",
    "extract.localize_ms_per_page": "ms",
    "extract.decode_ms_per_page": "ms",
    "extract.localize_accounted_share": "ratio",
    "lineseg.ms_per_page": "ms",
    "lineseg.strips_per_page": "count",
    "model.head_ms_per_strip": "ms",
    "boxes.nms_ms_per_strip": "ms",
    "boxes.nms_keep_ratio": "ratio",
    "crops.ms_per_page": "ms",
    "crops.per_page": "count",
    "recognize.encode_ms_per_crop": "ms",
    "recognize.knn_ms_per_crop": "ms",
    "assemble.ms_per_page": "ms",
    "domstrip.ms_per_page": "ms",
    "pdftext.text_ms_per_doc": "ms",
    "pdftext.r6_ms_per_doc": "ms",
    "pdftext.quarantine_share": "ratio",
    **{f"pdftext.images_ms_per_doc.{k}": "ms"
       for k in ("dct", "ccitt", "jbig2", "jpx")},
    "extract.embedded_rows_per_page": "count",
    "lineage.interrupted_s": "s",
    "lineage.resume_s": "s",
    "lineage.jobs": "count",
    "lineage.files_written": "count",
    "lineage.written_mb": "MB",
    "lineage.write_amplification": "ratio",
    "lineage.reextracted_share": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """→ (files, bytes) under `path`."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def lineage_figures(out_dirs: list[str], extra: list[dict]) -> dict:
    """What the interrupted + resumed run wrote, per pass (median over
    passes)."""
    files, mb, amp, reex = [], [], [], []
    for out in out_dirs:
        n, size = _dir_bytes(out)
        _, res_size = _dir_bytes(os.path.join(out, "results"))
        files.append(n)
        mb.append(size / MB)
        amp.append(size / res_size if res_size else 0.0)
        done = set(pq.read_table(os.path.join(out, "processed"),
                                 filters=[("run_id", "=", "interrupted")],
                                 columns=["chunk_id"])
                   .column("chunk_id").to_pylist())
        res = pq.read_table(os.path.join(out, "results"),
                            columns=["chunk_id", "run_id"])
        resumed = [c for c, r in zip(res.column("chunk_id").to_pylist(),
                                     res.column("run_id").to_pylist())
                   if r == "resume"]
        reex.append(sum(int(c) in done for c in resumed) / len(resumed)
                    if resumed else 0.0)
    return {
        "lineage.interrupted_s": _median([e["interrupted_s"]
                                          for e in extra]),
        "lineage.resume_s": _median([e["resume_s"] for e in extra]),
        "lineage.files_written": _median(files),
        "lineage.written_mb": _median(mb),
        "lineage.write_amplification": _median(amp),
        "lineage.reextracted_share": _median(reex),
    }


def layer_metrics(bench, inp, setup: dict, untraced: dict) -> dict:
    """Second, traced session in the same run: event log on, spans on,
    then plan, event log, replay and run-directory figures."""
    from effocr_spark.functions.recognize import build_prototypes

    log_dir = os.path.join(bench.run_dir, "eventlog")
    tracing.enable_event_log(bench.spark, log_dir)
    bench.stop_session()
    bench.setup()
    spark = bench.spark
    gc0 = tracing.jvm_gc_seconds(spark)
    # half the untraced window: medians of warmed passes compare alike,
    # and the traced run stays well inside its time limit
    traced = bench.timed_passes(inp, "traced",
                                seconds=bench.args.seconds / 2,
                                warm_seconds=REWARM_SECONDS)
    gc_s = (tracing.jvm_gc_seconds(spark) - gc0) / len(traced["walls"])
    bench.check_outputs(inp, traced["outs"])
    lin = None
    if bench.workload == LINEAGE_WORKLOAD:
        lin = bench.timed_passes(inp, "lineage", bench.lineage_pass,
                                 seconds=0, passes=2,
                                 warm_seconds=REWARM_SECONDS)
        bench.check_outputs(inp, lin["outs"], read=bench.read_results)
        bench.check_lineage_equals_plain(inp, lin["outs"][-1])
    with bench.tracer.span("pipeline.explain"):
        plan = tracing.plan_counts(tracing.formatted_plan(
            bench.result_df(spark.read.parquet(inp.pages_dir))))
    bench.stop_session()  # flushes and closes the event log

    groups = [f"traced-pass-{k}" for k in range(len(traced["walls"]))]
    per_pass = [tracing.read_event_log(log_dir, {g}) for g in groups]
    ev = {k: statistics.mean(p[k] for p in per_pass)
          for k in ("jobs", "stages", "tasks", "shuffle_write_b",
                    "shuffle_read_b", "to_python_b", "from_python_b")}
    ocr = [tracing.ocr_task_stats(p["ocr_task_s"]) for p in per_pass]

    with bench.tracer.span("replay"):
        protos = {lang: build_prototypes(lang) for lang in ("en", "jp")}
        rp = replay.replay_workload(inp.pages(), inp.expected(), protos,
                                    bench.args.seed)
    wall = statistics.median(untraced["walls"])
    traced_wall = statistics.median(traced["walls"])

    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "pipeline.broadcast_prototypes_s": setup["broadcast_s"],
        "pipeline.plan_exchanges": plan["exchanges"],
        "pipeline.plan_scans": plan["scans"],
        "pipeline.plan_python_stages": plan["python_stages"],
        "pipeline.jobs": ev["jobs"],
        "pipeline.stages": ev["stages"],
        "pipeline.tasks": ev["tasks"],
        "pipeline.tasks_failed": sum(p["tasks_failed"] for p in per_pass),
        "pipeline.shuffle_write_mb": ev["shuffle_write_b"] / MB,
        "pipeline.shuffle_read_mb": ev["shuffle_read_b"] / MB,
        "pipeline.arrow_to_python_mb": ev["to_python_b"] / MB,
        "pipeline.arrow_from_python_mb": ev["from_python_b"] / MB,
        **{f"pipeline.executor_run_s.{k}":
           statistics.mean(p["run_s"][k] for p in per_pass)
           for k in tracing.LAYERS},
        "pipeline.ocr_task_p50_s": _median([o["p50"] for o in ocr]),
        "pipeline.ocr_task_max_s": _median([o["max"] for o in ocr]),
        "pipeline.ocr_task_skew": _median([o["skew"] for o in ocr]),
        "pipeline.gc_s": gc_s,
        "pipeline.peak_rss_mb": untraced["peak_rss_mb"],
        "pipeline.overhead_s": wall - rp.pop("kernel_core_s") / bench.cpus,
        **rp,
        "lineage.interrupted_s": 0.0, "lineage.resume_s": 0.0,
        "lineage.jobs": 0.0, "lineage.files_written": 0.0,
        "lineage.written_mb": 0.0, "lineage.write_amplification": 0.0,
        "lineage.reextracted_share": 0.0,
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - wall,
    }
    if lin is not None:
        m.update(lineage_figures(lin["outs"], lin["extra"]))
        m["lineage.jobs"] = statistics.mean(
            tracing.read_event_log(log_dir, {f"lineage-pass-{k}"})["jobs"]
            for k in range(len(lin["walls"])))
    return {k: (float(m[k]), UNITS[k]) for k in UNITS}
