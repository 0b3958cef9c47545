"""get_spark is a session factory only: a fresh session has run no job,
and its first Python stage still finds the package from any cwd."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from effocr_spark.functions.domstrip import strip_html
from effocr_spark.pipeline import broadcast_prototypes, extract_pages
from effocr_spark.session import get_spark

spark = get_spark("t", cpus=1)
jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup())
assert jobs == [], f"get_spark submitted jobs {jobs}"
html = b"<html><body><p>first stage text</p></body></html>"
df = spark.createDataFrame([("u://a", bytearray(html), "en")],
                           "url string, html binary, lang string")
rows = extract_pages(df, broadcast_prototypes(spark)).collect()
got = [(r["extracted_text"], r["ok"], r["error"]) for r in rows]
assert got == [(strip_html(html), True, None)], got
spark.stop()
print("PROBE OK")
"""


def test_fresh_session_runs_no_job_and_workers_import_package(tmp_path):
    # outside the repo root and without it on PYTHONPATH, the executor
    # workers can import effocr_spark only through get_spark's PYTHONPATH
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != ROOT)
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([sys.executable, "-c", PROBE, ROOT], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "PROBE OK" in out.stdout
