"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. The workload's input is materialised
once per (workload, seed, size) and reused; then a fresh
`local[nproc - 1]` session runs the pipeline the way a user would, untimed
warm passes first, then timed passes for `--seconds`. Every timed
pass's output goes through the correctness gate. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).
Everything else goes to stderr; the last stdout line is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 3
WARM_SECONDS = 20.0  # fresh JVM: passes speed up for about 15 s
N_CHUNKS, FAIL_AFTER_CHUNK = 2, 0  # the lineage run stops halfway


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate_environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and pin BLAS to one thread per process (tasks
    are the parallelism; the kernel replay is single-core)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote("spark.local.dir=" + tmp),
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(WORK, "warehouse")),
        # -UsePerfData: HotSpot would write /tmp/hsperfdata_<user>.
        # -Xms2g: the heap starts near the size the passes settle at;
        # grown from the default, passes kept speeding up all run long
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g"),
        "pyspark-shell"])


class Bench:
    """One workload run: session, passes, gate and metrics."""

    def __init__(self, args, cpus: int):
        from perfbench.tracing import Tracer

        self.args = args
        self.workload = args.workload
        self.cpus = cpus
        self.salt = 2 * cpus
        self.tracer = Tracer(bool(args.trace))
        self.run_dir = os.path.join(
            WORK, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.spark = None
        self.protos_bc = None
        self.gateway_proc = None

    # ---------------------------------------------------------- session
    def setup(self) -> dict:
        from effocr_spark import pipeline
        from effocr_spark.session import get_spark

        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(f"perfbench-{self.workload}",
                                       cpus=self.cpus)
            t1 = time.perf_counter()
            with self.tracer.span("pipeline.broadcast_prototypes"):
                self.protos_bc = pipeline.broadcast_prototypes(self.spark)
            t2 = time.perf_counter()
        if self.gateway_proc is None:
            self.gateway_proc = self.spark.sparkContext._gateway.proc
        return {"get_spark_s": t1 - t0, "broadcast_s": t2 - t1,
                "setup_s": t2 - t0}

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, the JVM and every Python worker, and wait
        for all of them to end."""
        from perfbench.procstat import tree

        self.stop_session()
        proc = self.gateway_proc
        if proc is None:
            return
        pids = tree(proc.pid)
        from pyspark import SparkContext
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=20)
        def alive():
            return [p for p in pids if os.path.exists(f"/proc/{p}")]

        deadline = time.time() + 20
        while alive() and time.time() < deadline:
            time.sleep(0.05)
        for pid in alive():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    # ----------------------------------------------------------- passes
    def extract_kwargs(self) -> dict:
        kw = {"salt_partitions": self.salt}
        if self.workload == "crawl_mix":
            kw["embedded_images"] = True
        return kw

    def result_df(self, pages):
        from effocr_spark import pipeline
        return pipeline.extract_pages(pages, self.protos_bc,
                                      **self.extract_kwargs())

    def extract_pass(self, inp, out_dir: str) -> dict:
        """One pass from the input table to committed output."""
        pages = self.spark.read.parquet(inp.pages_dir)
        with self.tracer.span("pipeline.extract_pages"):
            res = self.result_df(pages)
        with self.tracer.span("pipeline.write"):
            res.write.mode("overwrite").parquet(out_dir)
        return {}

    def lineage_pass(self, inp, out_dir: str) -> dict:
        """run_extraction stopped halfway by fail_after_chunk, then
        resumed to completion in the same run directory."""
        from effocr_spark import lineage

        pages = self.spark.read.parquet(inp.pages_dir)
        t0 = time.perf_counter()
        with self.tracer.span("lineage.run_extraction.interrupted"):
            try:
                lineage.run_extraction(
                    self.spark, pages, out_dir, self.protos_bc,
                    run_id="interrupted", n_chunks=N_CHUNKS,
                    fail_after_chunk=FAIL_AFTER_CHUNK,
                    **self.extract_kwargs())
                raise RuntimeError("run_extraction was not interrupted")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        t1 = time.perf_counter()
        with self.tracer.span("lineage.run_extraction.resume"):
            lineage.run_extraction(self.spark, pages, out_dir,
                                   self.protos_bc, run_id="resume",
                                   n_chunks=N_CHUNKS,
                                   **self.extract_kwargs())
        t2 = time.perf_counter()
        return {"interrupted_s": t1 - t0, "resume_s": t2 - t1}

    def timed_passes(self, inp, phase: str, pass_fn=None,
                     seconds: float | None = None,
                     passes: int = MIN_PASSES,
                     warm_seconds: float = WARM_SECONDS) -> dict:
        """Warm passes for `warm_seconds`, then timed passes for
        `seconds`, each at least `passes`: the JIT and the growing
        Python worker pool keep speeding passes up for the first few.
        CPU and peak memory are taken over the timed passes."""
        from perfbench.procstat import ProcessMeter

        pass_fn = pass_fn or self.extract_pass
        seconds = self.args.seconds if seconds is None else seconds
        base = os.path.join(self.run_dir, phase)
        sc = self.spark.sparkContext
        start, warm = time.perf_counter(), 0
        while (warm < passes
               or time.perf_counter() - start < warm_seconds):
            pass_fn(inp, os.path.join(base, f"warm-{warm}"))
            warm += 1
        walls, extra, outs = [], [], []
        with ProcessMeter(self.gateway_proc.pid) as meter:
            start = time.perf_counter()
            while (len(walls) < passes
                   or time.perf_counter() - start < seconds):
                k = len(walls)
                out = os.path.join(base, f"pass-{k}")
                sc.setJobGroup(f"{phase}-pass-{k}", f"perfbench {phase}")
                with self.tracer.span("pass", index=k, phase=phase):
                    t0 = time.perf_counter()
                    extra.append(pass_fn(inp, out))
                    walls.append(time.perf_counter() - t0)
                sc.setJobGroup(None, None)
                outs.append(out)
        log(f"{phase}: {warm} warm + {len(walls)} timed passes, wall "
            f"{[round(w, 3) for w in walls]}")
        return {"walls": walls, "extra": extra, "outs": outs,
                "cpu_s": meter.cpu_s, "peak_rss_mb": meter.peak_rss_mb}

    # ------------------------------------------------------------- gate
    def check_outputs(self, inp, outs: list[str], read=None) -> dict:
        """Gate every timed pass; → summed report."""
        from perfbench import gate

        read = read or gate.read_output
        expected = inp.expected()
        total = {"docs": 0, "exact": 0, "failed_rows": 0, "mismatched": 0}
        for out in outs:
            with self.tracer.span("gate.check"):
                rep = gate.check(read(out), expected)
                gate.enforce(rep, expected, f"{self.workload} {out}")
            for k in total:
                total[k] += rep[k]
        return total

    def read_results(self, out_dir: str):
        import pyarrow as pa
        from effocr_spark import lineage

        df = lineage.read_results(self.spark, out_dir) \
            .select("url", "extracted_text", "ok")
        return pa.Table.from_pandas(df.toPandas(), preserve_index=False)

    def check_lineage_equals_plain(self, inp, out_dir: str) -> None:
        """read_results of the resumed run must equal one plain
        extract_pages pass over the same input, every url once."""
        from perfbench import gate

        plain_dir = os.path.join(self.run_dir, "plain")
        res = self.result_df(self.spark.read.parquet(inp.pages_dir))
        res.write.mode("overwrite").parquet(plain_dir)
        a = _sorted_rows(self.read_results(out_dir))
        b = _sorted_rows(gate.read_output(plain_dir))
        if a != b or len({r[0] for r in a}) != len(a):
            raise gate.GateError(
                "run_extraction: read_results differs from a plain "
                f"extract_pages pass ({len(a)} vs {len(b)} rows)")


def _sorted_rows(t) -> list[tuple]:
    return sorted(zip(t.column("url").to_pylist(),
                      t.column("extracted_text").to_pylist(),
                      t.column("ok").to_pylist()), key=lambda r: r[0])


def end_to_end(setup: dict, timed: dict, gate_rep: dict,
               n_docs: int) -> dict:
    wall = statistics.median(timed["walls"])
    n_passes = len(timed["walls"])
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (n_docs / wall, "docs/s"),
        "cpu_s_per_kdoc": (timed["cpu_s"] / (n_docs * n_passes) * 1000,
                           "s/kdoc"),
        "exact_match_rate": (gate_rep["exact"] / gate_rep["docs"],
                             "ratio"),
        "failed_share": (gate_rep["failed_rows"] / gate_rep["docs"],
                         "ratio"),
    }


def run(args) -> tuple[dict, dict]:
    """→ (metrics {name: (value, unit)}, gate report)."""
    from perfbench import workloads
    from perfbench.procstat import host_record, nproc

    host = host_record()
    log(f"host: {host}")
    # one core is left to the JVM's own threads (GC, JIT, Arrow) and
    # this process: at local[nproc] the same passes took as long but
    # used ~18% more CPU per document, and runnable threads waited for
    # a core twice as often
    n = max(1, nproc() - 1)
    # one file per core: Spark packs small files into splits by size,
    # so with more files than cores the split count (and so the number
    # of task waves) would flip with a few bytes of seed-dependent size
    inp, reused = workloads.materialise(args.workload, args.seed, WORK,
                                        size=args.size, n_files=n,
                                        procs=n)
    log(f"input {inp.root} ({inp.n_docs} docs, "
        f"{'reused' if reused else 'generated'})")
    bench = Bench(args, n)
    try:
        setup = bench.setup()
        splits = bench.spark.read.parquet(inp.pages_dir).rdd \
            .getNumPartitions()
        log(f"setup: {setup}; input splits: {splits}")
        untraced = bench.timed_passes(inp, "untraced")
        t0 = time.perf_counter()
        gate_rep = bench.check_outputs(inp, untraced["outs"])
        log(f"gate passed in {time.perf_counter() - t0:.2f}s")
        metrics = end_to_end(setup, untraced, gate_rep, inp.n_docs)
        if args.trace:
            from perfbench.layers import layer_metrics
            metrics = layer_metrics(bench, inp, setup, untraced)
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        log(f"shutdown in {time.perf_counter() - t0:.2f}s")
    host["loadavg_after"] = os.getloadavg()
    record = {"workload": args.workload, "seed": args.seed,
              "size": args.size, "trace": args.trace, "host": host,
              "cpus": n, "metrics": {k: v for k, (v, _) in metrics.items()}}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}-{int(time.time())}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        bench.tracer.write(os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    return metrics, gate_rep


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "effocr_spark")):
        log(f"no effocr_spark/ package under {ROOT}: run from the root "
            "of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gate, workloads
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"one of {workloads.WORKLOADS}")
        return 2
    _isolate_environment()
    try:
        metrics, rep = run(args)
    except gate.GateError as e:
        log(f"CORRECTNESS GATE FAILED: {e}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}), flush=True)
        return 1
    print(json.dumps({
        "correct": True, "attempted": rep["docs"],
        "failed": rep["mismatched"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
