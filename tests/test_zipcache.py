"""effocr_spark.zipcache: `importlib.invalidate_caches()` re-reads a zip
archive's directory only when the archive changed on disk, and a
changed archive is still picked up."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from effocr_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13's invalidate_caches no longer re-reads archives")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread_and_changed_one_is(
        tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches \
        is zipcache.invalidate_if_changed
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zc_probe_m1"])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_probe_m1").NAME == "zc_probe_m1"
        # the first call cannot know whether the archive changed since
        # the importer read it, so it reads once and stamps the archive
        importlib.invalidate_caches()

        reads = []
        stdlib_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stdlib_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, ["zc_probe_m1", "zc_probe_m2"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zc_probe_m2").NAME == "zc_probe_m2"
    finally:
        for name in ("zc_probe_m1", "zc_probe_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        zipcache._read_stamps.pop(archive, None)


PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from effocr_spark.session import get_spark

def report(batches):
    import zipimport
    import pandas as pd
    import effocr_spark  # noqa: F401
    for _ in batches:
        pass
    method = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({"ok": [method.__module__ == "effocr_spark.zipcache"]})

spark = get_spark("t", cpus=2)
for job in (1, 2):
    oks = [r.ok for r in spark.range(0, 4, 1, 4)
           .mapInPandas(report, "ok boolean").collect()]
    print("JOB", job, oks)
spark.stop()
"""


def test_python_workers_run_the_package_method(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run([sys.executable, "-c", PROBE, ROOT], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert "JOB 2 [True, True, True, True]" in out.stdout, (
        out.stdout + out.stderr[-3000:])
