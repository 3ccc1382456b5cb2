"""DataFrame extraction operators — the compute core as mapInPandas stages.

Three operators compose the extraction job (plans/job.py):

- ``extract_documents``    — single-pass: one pages row in, one results
  row out; the whole reference request lifecycle per Arrow batch.
- ``explode_pdf_buckets``  — stage A of the skew path: big PDFs are
  fanned out to (url, bucket, payload) rows so a 500-page document
  spreads across tasks ("salting on (url, page_range)" per the north
  rule). Page count is parsed once here.
- ``extract_pdf_buckets``  — stage B: per-bucket raw page-range text.
  ``reassemble_pdf_results`` then re-aggregates with an ordered concat
  (array_sort over (bucket, txt) structs) — deterministic page order,
  unlike the reference's ``imap_unordered`` pool (converter.py:170-175).

Everything stays JVM-side except the extraction itself, which is
Arrow-batched (no per-row Python round trips).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

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

from ocr_service_spark.extraction.pipeline import extract_document

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

# pages per salted bucket: one stage-B row extracts this many pages
BUCKET_PAGES = 16
# stage-A output: one row per (url, page bucket); payload rides along
_EXPLODE_SCHEMA = "url string, bucket int, n_buckets int, page_count int, payload binary"
# stage-B output: raw (unfinalized) text per bucket
_BUCKET_TEXT_SCHEMA = "url string, bucket int, page_count int, txt string, error boolean"


_RESULT_COLS = (
    "url",
    "extracted_text",
    "content_type",
    "pages",
    "confidence",
    "success",
    "ocr_skipped",
    "fallback_reason",
    "doc_class",
    "elapsed_ms",
    "metadata",
    "footer",
)


def _result_frame(rows: list[dict]) -> pd.DataFrame:
    # columnar construction: pandas from list-of-dicts walks every cell
    # through per-row inference — measurably slower in the hot path
    frame = pd.DataFrame({c: [r.get(c) for r in rows] for c in _RESULT_COLS})
    frame["pages"] = frame["pages"].astype("Int32")
    return frame


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
        for batch in batches:
            rows = []
            footers = batch["footer"] if has_footer else [None] * len(batch)
            for url, payload, footer in zip(batch["url"], batch["payload"], footers):
                start = time.perf_counter()
                row = extract_document(
                    None if payload is None else bytes(payload), url, mode
                )
                elapsed = (time.perf_counter() - start) * 1e3
                row["elapsed_ms"] = round(elapsed, 3)
                row["footer"] = footer  # echoed verbatim per the reference
                rows.append(row)
                if metrics is not None:
                    metrics.docs.add(1)
                    metrics.bytes_in.add(0 if payload is None else len(payload))
                    metrics.wall_ms.add(int(elapsed))
                    if not row["extracted_text"]:
                        metrics.empty_text.add(1)
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
    """Stage A: parse page count once, emit one row per page bucket.

    Payload bytes are duplicated per bucket — bounded by
    ceil(pages / bucket_pages) and only for the rare huge documents the
    router sends here; the win is page-level parallelism on exactly the
    skew that would otherwise straggle a task.
    """
    from ocr_service_spark.extraction.pdf_text import pdf_page_count

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {
                "url": [],
                "bucket": [],
                "n_buckets": [],
                "page_count": [],
                "payload": [],
            }
            for url, payload in zip(batch["url"], batch["payload"]):
                payload = bytes(payload)
                try:
                    count = pdf_page_count(payload)
                except Exception:
                    count = -1  # parse failure: single error bucket
                n_buckets = max(1, -(-max(count, 1) // bucket_pages)) if count >= 0 else 1
                for bucket in range(n_buckets):
                    out["url"].append(url)
                    out["bucket"].append(bucket)
                    out["n_buckets"].append(n_buckets)
                    out["page_count"].append(count)
                    out["payload"].append(payload)
            frame = pd.DataFrame(out)
            frame["bucket"] = frame["bucket"].astype("int32")
            frame["n_buckets"] = frame["n_buckets"].astype("int32")
            frame["page_count"] = frame["page_count"].astype("int32")
            yield frame

    narrowed = big_pdfs.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=_EXPLODE_SCHEMA)


def extract_pdf_buckets(buckets: DataFrame, bucket_pages: int = BUCKET_PAGES) -> DataFrame:
    """Stage B: extract the raw text of one page bucket per row."""
    from ocr_service_spark.extraction.pdf_text import pdf_page_texts

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {
                "url": [],
                "bucket": [],
                "page_count": [],
                "txt": [],
                "error": [],
            }
            for url, bucket, page_count, payload in zip(
                batch["url"], batch["bucket"], batch["page_count"], batch["payload"]
            ):
                txt, error = "", False
                if page_count < 0:
                    error = True
                else:
                    try:
                        start = int(bucket) * bucket_pages
                        txt = "".join(
                            pdf_page_texts(bytes(payload), start, start + bucket_pages)
                        )
                    except Exception:
                        error = True
                out["url"].append(url)
                out["bucket"].append(int(bucket))
                out["page_count"].append(int(page_count))
                out["txt"].append(txt)
                out["error"].append(error)
            frame = pd.DataFrame(out)
            frame["bucket"] = frame["bucket"].astype("int32")
            frame["page_count"] = frame["page_count"].astype("int32")
            yield frame

    return buckets.mapInPandas(run, schema=_BUCKET_TEXT_SCHEMA)


def reassemble_pdf_results(bucket_texts: DataFrame) -> DataFrame:
    """Ordered re-agg: page-order concat, then finalize + result columns.

    ``array_sort(collect_list(struct(bucket, txt)))`` sorts by bucket
    (struct ordering is field order), so the concatenation is
    deterministic page order — the explicit fix for the reference's
    completion-order quirk (SURVEY.md §2.3 C4). Any bucket error
    reproduces the reference's swallowed-exception empty result.
    """
    @F.pandas_udf(StringType())
    def finalize_udf(raw: pd.Series) -> pd.Series:
        from ocr_service_spark.extraction.finalize import finalize_output_text

        return raw.map(finalize_output_text)

    agg = bucket_texts.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "txt"))),
                lambda s: s["txt"],
            ),
            "",
        ).alias("raw_text"),
        F.max("page_count").alias("page_count"),
        F.max("error").alias("error"),
    )
    text = F.when(F.col("error"), F.lit("")).otherwise(finalize_udf(F.col("raw_text")))
    meta_ok = F.create_map(
        F.lit("log_message"),
        F.when(F.length("extracted_text") > 0, F.lit("")).otherwise(
            F.lit("No text has been generated.")
        ),
    )
    meta_err = F.create_map(
        F.lit("log_message"), F.lit("No text has been generated.")
    )
    return (
        agg.withColumn("extracted_text", text)
        .select(
            "url",
            "extracted_text",
            F.when(F.col("error"), F.lit(None).cast("string"))
            .otherwise(F.lit("application/pdf"))
            .alias("content_type"),
            F.when(F.col("error"), F.lit(None).cast("int"))
            .otherwise(F.col("page_count"))
            .alias("pages"),
            F.lit(None).cast("double").alias("confidence"),
            (F.length("extracted_text") > 0).alias("success"),
            F.lit(False).alias("ocr_skipped"),
            F.lit(None).cast("string").alias("fallback_reason"),
            F.when(F.col("error"), F.lit(None).cast("string"))
            .otherwise(F.lit("pdf"))
            .alias("doc_class"),
            F.lit(None).cast("double").alias("elapsed_ms"),
            F.when(F.col("error"), meta_err).otherwise(meta_ok).alias("metadata"),
            # the salted path serves raw pages tables (no ingest envelope)
            F.lit(None).cast("map<string,string>").alias("footer"),
        )
    )
