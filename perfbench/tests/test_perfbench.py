"""Self-test of the benchmark at smoke size.

    python -m pytest perfbench/tests -q

Each workload runs once per trace mode through the real command (a
fresh Spark session per run, so the module takes a few minutes).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gate, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORK = os.path.join(ROOT, ".perfbench_work")


def _command(workload: str, seed: int, trace: int) -> list[str]:
    return [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
            "--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace), "--size", "smoke"]


@functools.lru_cache(maxsize=None)
def run_bench(workload: str, seed: int, trace: int) -> tuple[int, dict]:
    p = subprocess.run(_command(workload, seed, trace), cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else {}


def _expected_units(trace: int) -> dict:
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in BENCH[key]}


def test_benchmark_json_names_the_workloads():
    assert [w["name"] for w in BENCH["workloads"]] == \
        list(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_every_metric_printed_with_its_unit(workload, trace):
    code, out = run_bench(workload, 1, trace)
    assert code == 0
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == _expected_units(trace)
    assert all(isinstance(v["value"], float)
               for v in out["metrics"].values())
    m = out["metrics"]
    if not trace:
        assert m["exact_match_rate"]["value"] == 1.0
        assert m["failed_share"]["value"] > 0
    elif workload == "crawl_mix":
        # the replayed sub-layers account for the whole localize call
        assert 0.9 <= m["extract.localize_accounted_share"]["value"] <= 1.1


def test_seed_changes_input_not_metric_set():
    a = workloads.build_rows("crawl_mix", 1, "smoke")
    b = workloads.build_rows("crawl_mix", 2, "smoke")
    assert [r["html"] for r in a] != [r["html"] for r in b]
    assert [r["html"] for r in a] == \
        [r["html"] for r in workloads.build_rows("crawl_mix", 1, "smoke")]
    _, one = run_bench("crawl_mix", 1, 0)
    _, two = run_bench("crawl_mix", 2, 0)
    assert set(one["metrics"]) == set(two["metrics"])


def _perfect_output(expected: pa.Table) -> pa.Table:
    return pa.table({"url": expected.column("url"),
                     "extracted_text": expected.column("expected_text"),
                     "ok": expected.column("expected_ok")})


def test_gate_accepts_expected_and_trips_on_one_altered_text():
    rows = workloads.build_rows("crawl_mix", 3, "smoke")
    expected = pa.table({f.name: [r[f.name] for r in rows]
                         for f in workloads.EXPECTED_SCHEMA},
                        schema=workloads.EXPECTED_SCHEMA)
    output = _perfect_output(expected)
    gate.enforce(gate.check(output, expected), expected, "as generated")
    texts = expected.column("expected_text").to_pylist()
    i = next(k for k, t in enumerate(texts) if t)
    texts[i] = texts[i] + "!"
    altered = expected.set_column(
        expected.schema.get_field_index("expected_text"), "expected_text",
        pa.array(texts, pa.string()))
    with pytest.raises(gate.GateError):
        gate.enforce(gate.check(output, altered), altered, "altered")


def test_altered_expected_text_fails_the_run_loudly():
    """The same gate, end to end: one expected text altered in the
    cached input makes the benchmark exit non-zero with correct=false."""
    seed = 990_001
    inp, _ = workloads.materialise("born_digital", seed, WORK, "smoke")
    try:
        exp = inp.expected()
        texts = exp.column("expected_text").to_pylist()
        i = next(k for k, t in enumerate(texts) if t)
        texts[i] = "not what the page says"
        pq.write_table(exp.set_column(
            exp.schema.get_field_index("expected_text"), "expected_text",
            pa.array(texts, pa.string())), inp.expected_path)
        code, out = run_bench("born_digital", seed, 0)
        assert code != 0
        assert out["correct"] is False
    finally:
        shutil.rmtree(inp.root, ignore_errors=True)


def test_embedded_builder_reproduces_the_committed_golden():
    """embedded_page at the query's seed yields the extract_embedded
    golden texts, so the generated truth is the pipeline's contract."""
    gold = pq.read_table(os.path.join(ROOT, "goldens", "extract_embedded"))
    want = dict(zip(gold.column("url").to_pylist(),
                    gold.column("extracted_text").to_pylist()))
    for i in range(16):
        row = workloads.embedded_page(123, i)
        assert row["expected_text"] == want[f"https://emb.example/{i:03d}"]


def test_without_the_program_the_command_fails(tmp_path):
    """Only BENCHMARK.json and perfbench/ present: non-zero, no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "crawl_mix", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
