"""OCR fan-out/fan-in operator (O2/O3 as Spark stages).

The reference fans a document's page images to a thread pool and
concatenates results in submission order with a mean confidence
(ocr_engine.py:43-81). Here the shuffle IS the pool:

    (url, page_no, png) rows
      -> map_rows: executor-singleton engine, one recognition per row
      -> groupBy(url): ordered concat (array_sort over (page_no, text)),
         pages = count, confidence = round(avg, 4)   [ocr_engine.py:80-81]

Page order is deterministic by construction — the fix for the
reference's ``imap_unordered`` completion-order quirk (SURVEY §2.3 C4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_service_spark.plans.rows import map_rows

_PAGE_OCR_SCHEMA = "url string, page_no int, text string, confidence double"


def ocr_pages(page_images: DataFrame) -> DataFrame:
    """(url, page_no, png binary) -> per-page (text, confidence)."""

    def recognize(url, page_no, png):
        from ocr_service_spark.extraction.ocr_engine import get_engine

        text, conf = get_engine().recognize(bytes(png))  # executor singleton (O1)
        return [(url, page_no, text, conf)]

    return map_rows(page_images.select("url", "page_no", "png"), recognize, _PAGE_OCR_SCHEMA)


def collect_ocr_documents(page_ocr: DataFrame) -> DataFrame:
    """Fan-in: ordered page concat (no separator, ocr_engine.py:67) +
    pages count (:80) + confidence = round(mean of page means, 4) (:81)."""
    return page_ocr.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("page_no", "text"))),
                lambda s: s["text"],
            ),
            "",
        ).alias("ocr_text"),
        F.count(F.lit(1)).cast("int").alias("pages"),
        F.round(F.avg("confidence"), 4).alias("confidence"),
    )


def run_ocr_pages(page_images: DataFrame) -> DataFrame:
    """Full OCR tier over pre-rendered page images."""
    return collect_ocr_documents(ocr_pages(page_images))
