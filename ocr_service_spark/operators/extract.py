"""DataFrame extraction operators — the compute core as mapInPandas stages.

Three operators compose the extraction job (plans/job.py):

- ``extract_documents``    — single-pass: one pages row in, one results
  row out; the whole reference request lifecycle per Arrow batch.
- ``explode_pdf_buckets``  — the skew path's explode, pure Column logic
  in the scan stage: each big PDF becomes a few (url, slice) rows, so a
  500-page document spreads across tasks ("salting on (url, page_range)"
  per the north rule) at one payload copy per slice.
- ``extract_pdf_buckets``  — the slice stage: raw text of one page slice
  per row. A task parses a document once per consecutive run of its
  rows (``pdf_text.OpenedPdf``) and learns the page count there; the
  page interpreter handles each shown string as one glyph run (see
  ``pdf_text``). ``reassemble_pdf_results`` then re-aggregates each
  document in one grouped Python step: an ordered concat by slice index
  — deterministic page order, unlike the reference's ``imap_unordered``
  pool (converter.py:170-175) — and the row from
  ``pipeline.result_row``, the same code as the single-pass row.

Everything stays JVM-side except the extraction itself and the
re-agg's row, which are Arrow-batched (no per-row Python round trips).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ocr_service_spark.extraction.finalize import finalize_output_text, utf8_replace
from ocr_service_spark.extraction.pdf_text import OpenedPdf
from ocr_service_spark.extraction.pipeline import extract_document, result_row
from ocr_service_spark.plans.parallelism import fan_out_width
from ocr_service_spark.plans.session import drop_zip_finders

RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted_text", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("pages", IntegerType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("success", BooleanType(), False),
        StructField("ocr_skipped", BooleanType(), True),
        StructField("fallback_reason", StringType(), True),
        StructField("doc_class", StringType(), True),
        StructField("elapsed_ms", DoubleType(), True),
        StructField("metadata", MapType(StringType(), StringType()), True),
        # echoed verbatim from the ingest envelope when present
        # (reference: api/process.py:41-52, utils/utils.py:154-197)
        StructField("footer", MapType(StringType(), StringType()), True),
    ]
)

# pages per salted bucket: the unit a slice's page range is cut in
BUCKET_PAGES = 16
# Most slices per salted PDF. Every slice parses the whole document
# once (44 ms for pdfskew's 2.1 MB, 453-page giant, 4-core box) and
# interprets its share of the page text (170 ms in all), so a slice
# takes about 44 + 170/n ms: 86 ms at 4 slices, 65 ms at 8 for twice the
# parses and payload copies. Beyond about 4-8 slices one more adds a
# parse of CPU and saves almost no time, and the fan-out width alone
# would be 8000 parses of every giant at 1000 executors x 8 cores.
MAX_SLICES = 4
# slice-stage output: raw (unfinalized) text per slice, ``bucket`` being
# the slice index (slices are consecutive page ranges, so slice order is
# page order); page_count -1 when the document does not open, footer
# the echoed envelope footer, nbytes the payload's size and ms the
# slice's extraction time
_BUCKET_TEXT_SCHEMA = (
    "url string, bucket int, page_count int, txt string, error boolean,"
    " footer map<string,string>, nbytes bigint, ms double"
)


def _result_frame(rows: list[dict]) -> pd.DataFrame:
    # columnar construction: pandas from list-of-dicts walks every cell
    # through per-row inference — measurably slower in the hot path
    frame = pd.DataFrame({c: [r.get(c) for r in rows] for c in RESULT_SCHEMA.fieldNames()})
    frame["pages"] = frame["pages"].astype("Int32")
    return frame


def _stamp(row: dict, footer, nbytes: int, elapsed_ms: float, metrics) -> dict:
    """The per-document tail of both paths: latency, the echoed footer
    and the ``metrics`` accumulators."""
    row["elapsed_ms"] = round(elapsed_ms, 3)
    row["footer"] = footer  # echoed verbatim per the reference
    if metrics is not None:
        metrics.docs.add(1)
        metrics.bytes_in.add(nbytes)
        metrics.wall_ms.add(elapsed_ms)
        if not row["extracted_text"]:
            metrics.empty_text.add(1)
    return row


def extract_documents(
    pages: DataFrame, payload_col: str = "html", metrics=None, mode: str = "NO_OCR"
) -> DataFrame:
    """pages(url, <payload_col>, ...) -> results (RESULT_SCHEMA).

    ``metrics`` is an optional operators.metrics.ExtractionMetrics whose
    accumulators are updated per document inside the Arrow batches;
    ``mode`` is OPERATION_MODE (NO_OCR deterministic tier / OCR engine tier).
    """

    has_footer = "footer" in pages.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for batch in batches:
            rows = []
            footers = batch["footer"] if has_footer else [None] * len(batch)
            for url, payload, footer in zip(batch["url"], batch["payload"], footers):
                start = time.perf_counter()
                row = extract_document(
                    None if payload is None else bytes(payload), url, mode
                )
                elapsed = (time.perf_counter() - start) * 1e3
                nbytes = 0 if payload is None else len(payload)
                rows.append(_stamp(row, footer, nbytes, elapsed, metrics))
            yield _result_frame(rows)

    cols = ["url", F.col(payload_col).alias("payload")]
    if has_footer:
        cols.append(F.col("footer"))
    narrowed = pages.select(*cols)
    return narrowed.mapInPandas(run, schema=RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# Salted big-PDF path
# ---------------------------------------------------------------------------


def explode_pdf_buckets(
    big_pdfs: DataFrame, payload_col: str = "html", bucket_pages: int = BUCKET_PAGES
) -> DataFrame:
    """The salted explode: each big PDF becomes ``n`` rows (url, slice,
    n_slices, payload, footer), ``n = min(fan-out width, MAX_SLICES)``.

    Pure Column logic, so it runs JVM-side in the scan stage; no page
    count is parsed here. The payload is copied once per slice, and the
    slice stage cuts the page buckets of ``bucket_pages`` pages (the
    parameter only keeps the signature) into ``n`` consecutive ranges.
    The ``footer`` column (null when the pages table has none) rides
    along for the re-agg to echo.
    """
    n = min(fan_out_width(big_pdfs.sparkSession), MAX_SLICES)
    if "footer" in big_pdfs.columns:
        footer = F.col("footer")
    else:
        footer = F.lit(None).cast("map<string,string>").alias("footer")
    return big_pdfs.select(
        "url",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("slice"),
        F.lit(n).alias("n_slices"),
        F.col(payload_col).alias("payload"),
        footer,
    )


def _bucket_texts(batches: Iterator[pd.DataFrame], bucket_pages: int) -> Iterator[pd.DataFrame]:
    """The body of ``extract_pdf_buckets``: one text row per slice row."""
    drop_zip_finders()
    open_url: str | None = None
    opened: OpenedPdf | None = None  # None: open_url failed to open
    for batch in batches:
        out: dict[str, list] = {
            "url": [],
            "bucket": [],
            "page_count": [],
            "txt": [],
            "error": [],
            "footer": list(batch["footer"]),
            "nbytes": [],
            "ms": [],
        }
        for url, j, n, payload in zip(
            batch["url"], batch["slice"], batch["n_slices"], batch["payload"]
        ):
            t0 = time.perf_counter()
            if url != open_url:
                open_url = url
                try:
                    opened = OpenedPdf(bytes(payload))
                except Exception:
                    opened = None
            txt, error, page_count = "", opened is None, -1
            j, n = int(j), int(n)
            if opened is not None:
                page_count = opened.page_count
                n_buckets = -(-page_count // bucket_pages)
                # slice j of n: buckets [n_buckets*j//n, n_buckets*(j+1)//n)
                start = n_buckets * j // n * bucket_pages
                stop = n_buckets * (j + 1) // n * bucket_pages
                try:
                    # finalize_output_text's UTF-8 replace, here so a lone
                    # surrogate (a ToUnicode bfrange into D800-DFFF) never
                    # reaches Arrow; it is per character, so per slice it
                    # equals the replace on the reassembled text
                    txt = utf8_replace("".join(opened.page_texts(start, stop)))
                except Exception:
                    error = True
            out["url"].append(url)
            out["bucket"].append(j)
            out["page_count"].append(page_count)
            out["txt"].append(txt)
            out["error"].append(error)
            out["nbytes"].append(len(payload))
            out["ms"].append((time.perf_counter() - t0) * 1e3)
        frame = pd.DataFrame(out)
        frame["bucket"] = frame["bucket"].astype("int32")
        frame["page_count"] = frame["page_count"].astype("int32")
        yield frame


def extract_pdf_buckets(buckets: DataFrame, bucket_pages: int = BUCKET_PAGES) -> DataFrame:
    """The slice stage: extract the raw text of one page slice per row.

    A task parses a document once per consecutive run of that url's
    rows: the last opened document is kept while consecutive rows share
    its ``url`` (across Arrow batches), and a failed open marks every
    slice of the run ``error`` (page_count -1) without parsing again.
    The open also gives the page count, so slice ``j`` of ``n`` learns
    its buckets there; a slice left without buckets (a document of
    fewer buckets than slices) does no page work. No sort is added, so
    a task holds one slice's payload at a time. Each row carries the
    payload's byte size and the slice's extraction milliseconds (its
    share of the open included) for the re-agg's row and accumulators.

    ``plans/job.py`` deals the slice rows round-robin, so one giant's
    slices land on distinct tasks and each slice pays one parse.
    """
    return buckets.mapInPandas(
        partial(_bucket_texts, bucket_pages=bucket_pages), schema=_BUCKET_TEXT_SCHEMA
    )


def reassemble_pdf_results(bucket_texts: DataFrame, metrics=None) -> DataFrame:
    """Ordered re-agg: one grouped Python step per document that joins
    its slice texts in slice order and builds the row with
    ``pipeline.result_row``, the row code of ``extract_document``.

    Sorting by ``bucket``, the slice index, makes the concatenation
    deterministic page order — the explicit fix for the reference's
    completion-order quirk (SURVEY.md §2.3 C4). Any slice error
    reproduces the reference's swallowed-exception empty result.
    ``metrics`` counts each document as ``extract_documents`` does.
    """

    def assemble(key: tuple[str], slices: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        start = time.perf_counter()
        (url,) = key
        slices = slices.sort_values("bucket")
        if slices["error"].any():
            row = result_row(url, "", {})
        else:
            # the router passes only %PDF payloads, which ``classify``
            # calls pdf: extract_document's pdf branch with these values
            # (no text fallback: the router keeps .docx/.odt urls out)
            meta = {
                "content-type": "application/pdf",
                "doc_class": "pdf",
                "pages": int(slices["page_count"].iloc[0]),
            }
            row = result_row(url, finalize_output_text("".join(slices["txt"])), meta)
        footer = slices["footer"].iloc[0]
        elapsed = slices["ms"].sum() + (time.perf_counter() - start) * 1e3
        nbytes = int(slices["nbytes"].iloc[0])
        return _result_frame([_stamp(row, footer, nbytes, float(elapsed), metrics)])

    return bucket_texts.groupBy("url").applyInPandas(assemble, RESULT_SCHEMA)
