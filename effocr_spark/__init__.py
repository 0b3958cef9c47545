"""effocr_spark — a from-scratch PySpark-native reimplementation of the
capabilities of dell-research-harvard/effocr as a distributed
content-extraction engine over Common-Crawl-style page tables.

Reference semantics are documented in SURVEY.md. Every `file:line`
citation in this package's docstrings is a path in
dell-research-harvard/effocr, laid out as SURVEY.md's "Reference layout"
table shows (e.g. infer_effocr_onnx_multi.py:496-505,
utils/coco_utils.py:12-27). This package is NOT a port: the reference is a
single-node PyTorch/ONNX script collection; this engine expresses the same
dataflow as Spark DataFrames + vectorized Arrow/pandas UDFs.

Layout
------
synth/      deterministic fixture generation (bitmap font, PNG codec,
            synthetic pages table, synthetic recognizer prototypes)
functions/  pure NumPy/Python kernels (NMS, assembly, DOM strip, eval,
            spell check) — importable without Spark, unit-testable
operators/  Spark operators wrapping the kernels (mapInPandas / pandas
            UDFs), plus dedup / similarity / text-stats operators
pipeline.py end-to-end extraction pipeline (route -> OCR|DOM -> fuse)
lineage.py  per-partition checkpoint / metrics / resume
oracle.py   plain-Python loop-based reimplementation of the reference
            inference dataflow (infer_effocr_onnx_multi.py:227-397),
            used as the pinned golden oracle in tests
zipcache.py imported here: a Python worker that has run any
            effocr_spark function stops re-reading pyspark.zip per task
"""

from effocr_spark import zipcache  # noqa: F401

__version__ = "0.1.0"
