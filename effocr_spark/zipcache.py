"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker calls `importlib.invalidate_caches()` at every task
start. Before Python 3.13 each cached `zipimporter` then re-reads its
whole archive: 16 of them over pyspark.zip's 1,328 entries, ~0.3 s per
task. Here an archive whose `(st_mtime_ns, st_size)` matches its last
read keeps its directory; a changed one (a re-shipped `--py-files` zip)
goes through the stdlib method. 3.13 no longer re-reads eagerly.
"""

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp at read


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stdlib_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
    else:  # stamped before the read: a rewrite during it shows next time
        _stdlib_invalidate(self)
        _read_stamps[self.archive] = stamp


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
