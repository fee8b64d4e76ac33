"""Extraction benchmark for easyocr_spark; entry point is perfbench/run.py."""
