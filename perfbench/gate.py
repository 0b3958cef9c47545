"""Correctness gate: every input url exactly once, with the expected
text byte for byte and the expected ok flag."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


class GateError(AssertionError):
    """Raised when a workload's output does not match its expectation."""


def read_output(path: str) -> pa.Table:
    """Rows a pass committed to its parquet sink."""
    return pq.read_table(path, columns=["url", "extracted_text", "ok"])


def check(output: pa.Table, expected: pa.Table) -> dict:
    """→ {'docs', 'exact', 'failed_rows', 'mismatched', 'examples'}.

    `exact` counts input documents whose output text byte-equals the
    expected text (a quarantined document matches when both are null)
    and whose ok flag is the expected one. `failed_rows` counts input
    documents missing from the output plus output rows with ok = false.
    """
    want = {u: (t, o) for u, t, o in zip(
        expected.column("url").to_pylist(),
        expected.column("expected_text").to_pylist(),
        expected.column("expected_ok").to_pylist())}
    got: dict = {}
    dupes = 0
    for u, t, o in zip(output.column("url").to_pylist(),
                       output.column("extracted_text").to_pylist(),
                       output.column("ok").to_pylist()):
        if u in got:
            dupes += 1
        got[u] = (t, o)
    exact = missing = not_ok = 0
    examples = []
    for u, (t, o) in want.items():
        if u not in got:
            missing += 1
            examples.append((u, "missing"))
            continue
        gt, go = got[u]
        if not go:
            not_ok += 1
        if gt == t and bool(go) == bool(o):
            exact += 1
        elif len(examples) < 3:
            examples.append((u, f"want {t!r:.80} ok={o}, "
                                f"got {gt!r:.80} ok={go}"))
    extra = len(set(got) - set(want))
    return {"docs": len(want), "exact": exact,
            "failed_rows": missing + not_ok,
            "mismatched": len(want) - exact + dupes + extra,
            "duplicates": dupes, "unexpected": extra,
            "examples": examples}


def expected_failed(expected: pa.Table) -> int:
    """Documents the input is built to quarantine."""
    return expected.column("expected_ok").to_pylist().count(False)


def enforce(report: dict, expected: pa.Table, what: str) -> None:
    """Fail loudly on any mismatch."""
    if report["mismatched"] or \
            report["failed_rows"] != expected_failed(expected):
        raise GateError(
            f"{what}: {report['mismatched']} of {report['docs']} documents "
            f"differ from their expected output ({report['duplicates']} "
            f"duplicate, {report['unexpected']} unexpected urls; "
            f"{report['failed_rows']} failed rows, expected "
            f"{expected_failed(expected)}); first: {report['examples']}")
