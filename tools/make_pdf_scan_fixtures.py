"""Materialize the committed extract_pdf_scanned fixture files
(data/pdf_scan_fixtures/*.pdf) from the deterministic writers in
synth/pdfgen. Run ONLY after an intentional writer change, then
re-run tools/make_goldens.py + tools/check_queries.py.

Usage: python tools/make_pdf_scan_fixtures.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from effocr_spark.synth.pdf_scan_fixture_set import (  # noqa: E402
    FIXTURE_DIR, fixture_filename, generate_fixtures)


def main() -> None:
    FIXTURE_DIR.mkdir(parents=True, exist_ok=True)
    fresh = generate_fixtures()
    for url, blob in sorted(fresh.items()):
        path = FIXTURE_DIR / fixture_filename(url)
        changed = (not path.exists()) or path.read_bytes() != blob
        path.write_bytes(blob)
        print(f"{'WROTE' if changed else 'same '} {path.name}: "
              f"{len(blob)} bytes  ({url})")


if __name__ == "__main__":
    main()
