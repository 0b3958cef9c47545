"""Seeded workload inputs, materialised once per (workload, seed, size).

Every row is a pure function of (seed, row). A workload's input is a
pages table with the `input_hint` schema
(url, warc_ts, html, text, lang) plus a sidecar of what each row must
extract to (url, expected_text, expected_ok, kind). Both are written as
parquet under the benchmark's work directory and reused by every later
run with the same key, so generation never lands inside a timed region
and the program under test only ever sees the generated tables.
"""

from __future__ import annotations

import base64
import datetime as dt
import multiprocessing as mp
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from effocr_spark.synth import pages as synth_pages

WORKLOADS = ("crawl_mix", "born_digital")

# generated rows per workload; "smoke" keeps the self-test fast
SIZES = {"full": {"crawl_mix": 1500, "born_digital": 4000},
         "smoke": {"crawl_mix": 60, "born_digital": 80}}
# crawl_mix's born-digital pages carrying data-URI images
EMBEDDED_PAGES = {"full": 150, "smoke": 12}
# replicas of each committed PDF fixture (under distinct urls)
PDF_REPLICAS = {"full": {"born_digital": 12, "crawl_mix": 2},
                "smoke": {"born_digital": 1, "crawl_mix": 1}}
HOSTILE_ROWS = 4  # truncated PNGs: a crawl always carries a few
R6_URLS = ("pdf://enc/r6", "pdf://enc/r6pw", "pdf://enc/r6xref")
CACHE_VERSION = "v7"

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
EXPECTED_SCHEMA = pa.schema([
    ("url", pa.string()), ("expected_text", pa.string()),
    ("expected_ok", pa.bool_()), ("kind", pa.string()),
])
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


# ---------------------------------------------------------------- rows

def _row(url, html, expected_text, expected_ok, kind, r,
         text=None, lang="en"):
    return {"url": url, "warc_ts": EPOCH + dt.timedelta(seconds=int(r)),
            "html": html, "text": text, "lang": lang,
            "expected_text": expected_text, "expected_ok": expected_ok,
            "kind": kind}


def crawl_page(seed: int, r: int) -> dict:
    """The synthetic crawl row (`synth.pages.generate_page`): Zipf hosts,
    ~40% rendered-PNG OCR pages, the rest boilerplate HTML."""
    p = synth_pages.generate_page(r, seed)
    return _row(p["url"], p["html"], p["true_text"], True, p["branch"], r,
                text=p["text"], lang=p["lang"])


def html_page(seed: int, r: int, prefix: str = "bd") -> dict:
    """Boilerplate HTML page with a known main-content block."""
    url = f"https://{prefix}{r % 50:03d}.example/{r:08d}"
    html, raw, golden = synth_pages._html_page(synth_pages._rng(seed, r),
                                               url)
    return _row(url, html, golden, True, "dom", r, text=raw)


def hostile_page(seed: int, r: int) -> dict:
    """PNG magic + a cut-off IHDR chunk: routes to OCR and must
    quarantine (ok = false, no text)."""
    rng = synth_pages._rng(seed, 10_000_000 + r)
    junk = bytes(rng.randint(0, 256, size=24, dtype=np.uint8))
    html = bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A]) \
        + b"\x00\x00\x00\rIHDR" + junk
    return _row(f"https://hostile.example/{seed}/{r:08d}", html, None,
                False, "hostile", r)


def embedded_page(seed: int, r: int) -> dict:
    """Born-digital page carrying 0-2 data-URI PNG text lines, the shape
    `q_extract_embedded` builds; the page's text is the DOM text, then
    each image's line in image order."""
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import encode_png

    rng = synth_pages._rng(seed, r)
    body = f"Body paragraph {r} of the born digital page"
    lines = [synth_pages._en_ocr_line(rng, 3) for _ in range(r % 3)]
    imgs = "".join(
        '<img src="data:image/png;base64,'
        + base64.b64encode(encode_png(render_line(ln)[0])).decode() + '">'
        for ln in lines)
    html = (f"<html><body><div id='m'><p>{body}</p>{imgs}</div>"
            f"</body></html>").encode()
    return _row(f"https://emb{r % 20:02d}.example/{r:06d}", html,
                "\n".join([body] + lines), True,
                "embedded" if lines else "dom", r)


# ------------------------------------------------------------ fixtures

def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _golden(name: str) -> dict:
    """url → (extracted_text, ok) from a committed golden table."""
    d = os.path.join(_repo_root(), "goldens", name)
    t = pq.read_table(d).to_pylist()
    return {g["url"]: (g["extracted_text"], g["ok"]) for g in t}


def _fixture_rows(loader, golden_name: str, replicas: int,
                  kind_of) -> list[dict]:
    gold = _golden(golden_name)
    rows = []
    for url, blob in loader():
        kind = kind_of(url, blob)
        n = 1 if kind == "pdf_r6" else replicas
        for k in range(n):
            text, ok = gold[url]
            rows.append(_row(f"{url}?replica={k}", blob, text, ok, kind,
                             len(rows)))
    return rows


def text_pdf_rows(replicas: int) -> list[dict]:
    """Committed text PDFs; the AES-256 (R6) ones once each, the rest
    `replicas` times."""
    from effocr_spark.synth.pdf_fixture_set import load_fixtures
    return _fixture_rows(
        load_fixtures, "extract_pdf", replicas,
        lambda url, _: "pdf_r6" if url in R6_URLS else "pdf")


def scan_pdf_rows(replicas: int) -> list[dict]:
    from effocr_spark.synth.pdf_scan_fixture_set import load_fixtures
    return _fixture_rows(load_fixtures, "extract_pdf_scanned", replicas,
                         lambda url, _: "scan")


def source_url(url: str) -> str:
    """Replica url → the fixture url its golden row is keyed by."""
    return url.split("?replica=")[0]


# ------------------------------------------------------------- builders

def _build_chunk(args) -> list[dict]:
    fn_name, seed, rows = args
    fn = globals()[fn_name]
    return [fn(seed, r) for r in rows]


def _generated(fn_name: str, seed: int, n: int, pool) -> list[dict]:
    step = max(1, n // 32)
    chunks = [(fn_name, seed, range(s, min(n, s + step)))
              for s in range(0, n, step)]
    if pool is None:
        out = [_build_chunk(c) for c in chunks]
    else:
        out = pool.map(_build_chunk, chunks)
    return [row for chunk in out for row in chunk]


def build_rows(workload: str, seed: int, size: str = "full",
               pool=None) -> list[dict]:
    """All rows of one workload input, grouped by kind and, within a
    kind, by fixture source (so a fixture's replicas and one codec's
    fixtures sit side by side), else in a seeded shuffled order."""
    n = SIZES[size][workload]
    if workload == "crawl_mix":
        rows = _generated("crawl_page", seed, n, pool)
        rows += _generated("embedded_page", seed, EMBEDDED_PAGES[size], pool)
        rows += scan_pdf_rows(PDF_REPLICAS[size][workload])
        rows += [hostile_page(seed, r) for r in range(HOSTILE_ROWS)]
    elif workload == "born_digital":
        rows = _generated("html_page", seed, n, pool)
        rows += text_pdf_rows(PDF_REPLICAS[size][workload])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    perm = np.random.RandomState(seed % (2**31 - 1)).permutation(len(rows))
    return sorted((rows[i] for i in perm),
                  key=lambda r: (r["kind"], source_url(r["url"])
                                 if "?replica=" in r["url"] else ""))


def _deal(n_rows: int, n_files: int) -> list[list[int]]:
    """Row indices per file, dealt round-robin: rows come grouped, so
    every file gets an equal share of each kind and codec, and no seed
    piles the costly documents (R6, JPX) into one task."""
    return [list(range(j, n_rows, n_files)) for j in range(n_files)]


class WorkloadInput:
    """Paths and row counts of one materialised workload input."""

    def __init__(self, root: str):
        self.root = root
        self.pages_dir = os.path.join(root, "pages")
        self.expected_path = os.path.join(root, "expected.parquet")

    def expected(self) -> pa.Table:
        return pq.read_table(self.expected_path)

    def pages(self) -> pa.Table:
        return pq.read_table(self.pages_dir, schema=PAGES_SCHEMA)

    @property
    def n_docs(self) -> int:
        return pq.read_metadata(self.expected_path).num_rows


def materialise(workload: str, seed: int, work_dir: str,
                size: str = "full", n_files: int = 4,
                procs: int = 1) -> tuple[WorkloadInput, bool]:
    """→ (input, reused). Generates the input unless a complete copy for
    this (workload, seed, size) is already on disk."""
    root = os.path.join(work_dir, "inputs",
                        f"{workload}-seed{seed}-{size}-{CACHE_VERSION}")
    inp = WorkloadInput(root)
    done = os.path.join(root, "_COMPLETE")
    if os.path.exists(done):
        return inp, True
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(inp.pages_dir)
    if procs > 1:
        # fork, not spawn: a spawn pool's semaphores start a resource
        # tracker process that outlives this one. Nothing has started a
        # thread yet, and every worker is joined before the JVM starts.
        pool = mp.get_context("fork").Pool(procs)
        try:
            rows = build_rows(workload, seed, size, pool)
            pool.close()
        except BaseException:
            pool.terminate()
            raise
        finally:
            pool.join()
    else:
        rows = build_rows(workload, seed, size)
    for j, idx in enumerate(_deal(len(rows), n_files)):
        part = pa.table({f.name: [rows[i][f.name] for i in idx]
                         for f in PAGES_SCHEMA}, schema=PAGES_SCHEMA)
        pq.write_table(part, os.path.join(inp.pages_dir,
                                          f"part-{j:05d}.parquet"))
    pq.write_table(pa.table({f.name: [r[f.name] for r in rows]
                             for f in EXPECTED_SCHEMA},
                            schema=EXPECTED_SCHEMA), inp.expected_path)
    open(done, "w").close()
    return inp, False
