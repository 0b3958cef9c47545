"""Extraction benchmark for effocr_spark (see perfbench/README.md)."""
