"""Outside-in tracing: spans around the benchmark's calls into each
layer, the Spark event log, and the formatted physical plan.

Spans stay in memory and are written out once, when the run ends. The
event log is switched on from the benchmark's side: JVM system
properties set before a SparkContext is created are read into its
SparkConf, so no session code changes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import statistics
import time


class Tracer:
    """Records (name, start, end, parent) spans; a disabled tracer
    records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ----------------------------------------------------------- event log

EVENTLOG_PROPS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def enable_event_log(spark, log_dir: str) -> None:
    """Make the NEXT SparkContext of this JVM write its event log to
    `log_dir` (the running one is unaffected)."""
    os.makedirs(log_dir, exist_ok=True)
    system = spark._jvm.java.lang.System
    for k, v in EVENTLOG_PROPS.items():
        system.setProperty(k, v)
    system.setProperty("spark.eventLog.dir",
                       "file://" + os.path.abspath(log_dir))


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM (which is the executor in
    local mode), from its GarbageCollectorMXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000


# physical-plan node → pipeline layer, by the Python function a
# MapInPandas node runs (named in the node's simpleString)
def _node_layer(name: str, simple: str) -> str | None:
    if name == "MapInPandas":
        if "ocr_batches(" in simple:
            return "ocr"
        if "explode_batches(" in simple:
            return "embedded"
        return "dom_pdf"
    if "Join" in name or "Aggregate" in name:
        return "fusion"
    if name.startswith("Execute Insert") or name == "WriteFiles":
        return "write"
    return None


LAYERS = ("scan", "ocr", "dom_pdf", "embedded", "fusion", "write")
_PRIORITY = ("ocr", "embedded", "dom_pdf", "fusion", "write")


def _walk(info: dict, out: dict) -> None:
    """SQL-metric accumulator id → layer of the plan node owning it."""
    layer = _node_layer(info["nodeName"], info.get("simpleString", ""))
    if layer:
        for m in info.get("metrics", ()):
            out[m["accumulatorId"]] = layer
    for c in info.get("children", ()):
        _walk(c, out)


def read_event_log(log_dir: str, job_groups: set[str]) -> dict:
    """Per-layer totals over the jobs of `job_groups`."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    acc_layer: dict = {}
    jobs, stages = set(), set()
    tasks = []
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if "sparkPlanInfo" in e:
                    _walk(e["sparkPlanInfo"], acc_layer)
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if props.get("spark.jobGroup.id") in job_groups:
                        jobs.add(e["Job ID"])
                        stages.update(e["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "tasks_failed": 0,
           "shuffle_write_b": 0, "shuffle_read_b": 0,
           "to_python_b": 0, "from_python_b": 0,
           "run_s": {k: 0.0 for k in LAYERS}, "ocr_task_s": []}
    ran = set()
    for e in tasks:
        if e["Stage ID"] not in stages:
            continue
        ran.add(e["Stage ID"])
        out["tasks"] += 1
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
            out["tasks_failed"] += 1
        run_s = tm.get("Executor Run Time", 0) / 1000
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        out["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
        layers = set()
        for a in info.get("Accumulables", ()):
            if a["ID"] in acc_layer:
                layers.add(acc_layer[a["ID"]])
            if a["Name"] == "data sent to Python workers":
                out["to_python_b"] += int(a["Update"])
            elif a["Name"] == "data returned from Python workers":
                out["from_python_b"] += int(a["Update"])
        layer = next((p for p in _PRIORITY if p in layers), "scan")
        out["run_s"][layer] += run_s
        if layer == "ocr":
            out["ocr_task_s"].append(run_s)
    out["stages"] = len(ran)
    return out


def ocr_task_stats(times: list[float]) -> dict:
    if not times:
        return {"p50": 0.0, "max": 0.0, "skew": 0.0}
    p50 = statistics.median(times)
    return {"p50": p50, "max": max(times),
            "skew": max(times) / p50 if p50 > 0 else 0.0}


# --------------------------------------------------------------- plans

_PY_NODES = re.compile(
    r"^(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|"
    r"BatchEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|FlatMapGroupsInArrow)$")
_TREE_LINE = re.compile(r"^[\s:|+\-]*([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$")


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_counts(plan: str) -> dict:
    """Exact node counts from the tree at the head of a formatted plan."""
    nodes: dict[str, str] = {}
    for line in plan.splitlines():
        if line.startswith("("):
            break  # node details follow the tree
        m = _TREE_LINE.match(line)
        if m:
            nodes[m.group(2)] = m.group(1)
    names = list(nodes.values())
    return {
        "exchanges": sum("Exchange" in n for n in names),
        "scans": sum(n.startswith("Scan") or n.endswith("Scan")
                     for n in names),
        "python_stages": sum(bool(_PY_NODES.match(n)) for n in names),
    }
