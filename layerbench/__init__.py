"""Layered benchmark of ``extract_ocr_spark`` (entry point: ``run.py``)."""
