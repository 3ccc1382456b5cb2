from ocr_service_spark.sources.pages import build_cfb  # noqa: F401  (perfbench/corpus.py imports it here)
