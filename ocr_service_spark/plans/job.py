"""End-to-end extraction job: route -> extract -> union -> (manifest).

The physical plan, designed for a 1000-executor / 100 TB run and
exercised identically on local[N]:

1. **Scan** the pages table with column pruning (url + payload only
   reach the extraction stage; Catalyst prunes the rest).
2. **Route** declaratively: payloads that are big AND carry the PDF
   magic, at a url without ``.docx``/``.odt``, take the salted
   page-range path; everything else takes the single-pass path. The
   predicate is pure Column logic, evaluated JVM-side at the scan.
3. **Size-skew repartition**: the single-pass branch repartitions by a
   hash of (url) after filtering; Arrow batches are bounded so one
   task never holds too many big payloads (AQE handles residual skew).
4. **Salted branch**: explode (url, page slice) JVM-side in the scan
   stage -> round-robin fan-out -> per-slice extraction (one parse per
   slice, which also counts the pages) -> ordered re-agg (one grouped
   Python step per document: slice-order concat, then the row from
   ``pipeline.result_row``) — the north rule's "salting on
   (url, page_range) with explode/re-agg ordered concat", at one
   payload copy per slice.
5. **Union** both branches (unionByName) into the results schema.

Checkpoint/lineage (resume_*) lives in plans/manifest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_service_spark.extraction.classify import OFFICE_ZIP_FALLBACK_EXTS
from ocr_service_spark.operators.extract import (
    BUCKET_PAGES,
    explode_pdf_buckets,
    extract_documents,
    extract_pdf_buckets,
    reassemble_pdf_results,
)
from ocr_service_spark.plans.parallelism import fan_out

# Payloads above this byte size that sniff as PDF go to the salted path.
SALT_MIN_BYTES = 2 * 1024 * 1024
PDF_MAGIC = bytes(b"%PDF")


def is_big_pdf(
    payload_col: str = "html",
    salt_min_bytes: int = SALT_MIN_BYTES,
    size_col: str | None = None,
):
    """Declarative router predicate (JVM-side).

    ``octet_length(payload)`` cannot prune parquet row groups (no
    column stats for a computed length), so the salted branch's second
    scan reads the full payload column again. When the pages table
    carries a byte-size metadata column (any production CC-style table
    should), pass it as ``size_col``: the size comparison then lands in
    PushedFilters and the salted scan skips every row group whose max
    size is under the threshold — at 100 TB that turns the second scan
    from a full read into a touch of the rare big-document row groups.

    A url with an ``OFFICE_ZIP_FALLBACK_EXTS`` extension (``.docx``,
    ``.odt``) stays single-pass: there ``extract_document`` falls back
    to the office/raw text when the PDF fails or yields no text, which
    the salted path cannot. ``classify.url_extension``'s extension is a
    substring of the lowered url, so this keeps out every such document
    and the salted row equals ``extract_document``'s.
    """
    col = F.col(payload_col)
    size = F.col(size_col) if size_col else F.octet_length(col)
    url = F.lower(F.col("url"))
    pred = (
        col.isNotNull()
        & (size > F.lit(salt_min_bytes))
        & (F.substring(col, 1, 4) == F.lit(PDF_MAGIC))
    )
    for ext in OFFICE_ZIP_FALLBACK_EXTS:
        pred &= ~url.contains(f".{ext}")
    return pred


def run_extraction(
    pages: DataFrame,
    payload_col: str = "html",
    salt_min_bytes: int = SALT_MIN_BYTES,
    bucket_pages: int = BUCKET_PAGES,
    repartition: int | None = None,
    repartition_by_size: bool = False,
    metrics=None,
    mode: str = "NO_OCR",
    size_col: str | None = None,
) -> DataFrame:
    """pages -> results DataFrame (operators.extract.RESULT_SCHEMA).

    ``repartition`` spreads the single-pass branch by url hash;
    ``repartition_by_size=True`` uses repartitionByRange on payload
    byte-size instead — range partitioning clusters similar-sized
    payloads, which makes per-task MEMORY predictable (an Arrow batch
    of uniformly-sized payloads, no one giant doc inside a small-doc
    batch). The tradeoff is WALL-CLOCK skew: equal-row ranges put the
    heaviest sub-threshold docs together in the last partitions, and
    AQE does NOT split user-specified repartitions (skew splitting
    applies to joins/rebalance only) — so when per-doc cost scales
    with size, plain hash repartition balances better and is the
    default. Above the salt threshold the salted page-bucket path
    dissolves the true giants either way. Requires ``repartition`` to
    be set (the range needs an explicit width)."""
    if repartition_by_size and not repartition:
        raise ValueError("repartition_by_size requires an explicit repartition count")
    if mode != "NO_OCR":
        # OCR tier: per-document engine recognition; the page-image
        # fan-out lives in operators/ocr.py for pre-rendered pages
        return extract_documents(pages, payload_col, metrics=metrics, mode=mode)

    big = is_big_pdf(payload_col, salt_min_bytes, size_col)

    normal = pages.filter(~F.coalesce(big, F.lit(False)))
    if repartition and repartition_by_size:
        normal = normal.repartitionByRange(
            repartition, F.octet_length(payload_col).asc_nulls_first(), F.col("url")
        )
    elif repartition:
        # spread payloads across tasks; size skew beyond this is AQE's job
        normal = normal.repartition(repartition, "url")
    normal_results = extract_documents(normal, payload_col, metrics=metrics)

    # Salted branch: filter at FULL scan width (a coalesce here would
    # collapse the scan itself to a few tasks — a non-starter when the
    # scan is 100 TB) and explode each big PDF into its slices in that
    # same stage. The keyless fan-out deals the slice rows round-robin
    # at an explicit width, so one giant's consecutive slice rows land
    # on distinct tasks (its local sort keeps retries deterministic).
    # filter(big) (not coalesce(big, false)): SQL filters keep only
    # TRUE rows, so the semantics are identical, and the bare
    # conjunction lets Catalyst split + push the size conjunct into
    # the parquet scan (coalesce() is an opaque wrapper the optimizer
    # will not decompose)
    slices = fan_out(explode_pdf_buckets(pages.filter(big), payload_col, bucket_pages))
    salted_results = reassemble_pdf_results(extract_pdf_buckets(slices, bucket_pages), metrics)

    return normal_results.unionByName(salted_results)
