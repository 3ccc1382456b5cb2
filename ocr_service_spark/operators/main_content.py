"""Main-content extraction operator (block text-density boilerplate
strip) + its oracle-checked roundtrip query.

The Spark stage is one per-row Python stage (``plans/rows.py::map_rows``)
over (url, payload) — zero shuffles, column-pruned scan, identical shape to the extraction
job's single-pass branch. q35 proves the semantics end-to-end: each
``documents.text`` is wrapped into a page FULL of boilerplate (nav,
link sidebar, footer) around one real paragraph; the stripper must
return exactly the paragraph — SQL-expressible, so DuckDB hash-checks
the whole stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.extraction.main_content import MIN_BLOCK_CHARS
from ocr_service_spark.plans.parallelism import documents
from ocr_service_spark.plans.rows import map_rows

MAIN_SCHEMA = "url string, main_text string, n_kept bigint"


def extract_main_text(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> (url, main_text, n_kept)."""

    def main_text(url, payload):
        from ocr_service_spark.extraction.main_content import extract_main_content

        text, n_kept, _ = ("", 0, 0) if payload is None else extract_main_content(bytes(payload))
        return [(url, text, n_kept)]

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, main_text, MAIN_SCHEMA)


# boilerplate-heavy page template around one real paragraph (%s)
_PAGE_FMT = (
    "<!DOCTYPE html><html><head><title>doc</title><style>p {margin: 0}</style></head>"
    "<body>"
    '<nav><a href="/">home</a> <a href="/about">about</a> <a href="/more">more</a></nav>'
    "<header><h1>site</h1></header>"
    '<div><a href="/x">sidebar link</a> <a href="/y">another sidebar link</a></div>'
    "<article><p>%s</p></article>"
    "<footer>footer boilerplate</footer>"
    "</body></html>"
)


SPAN_SCHEMA = (
    "url string, block_idx bigint, char_start bigint, char_end bigint, span_text string"
)


def extract_content_span_table(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per KEPT main-content
    block: (url, block_idx, char_start, char_end, span_text).

    The span table the north rule pairs with the extracted text
    ("matching the reference's extracted text/spans per document"):
    char_start/char_end are offsets into the decoded page source, so a
    downstream consumer can slice the original bytes without re-parsing.
    Same 100 TB shape as extract_main_text: one ``map_rows`` stage,
    zero shuffles, column-pruned scan; the explode happens inside the
    stage (a page yields its kept blocks), so no Spark-side
    explode/re-agg is needed.
    """

    def spans(url, payload):
        from ocr_service_spark.extraction.main_content import extract_content_spans

        if payload is None:
            return []
        return [(url, *span) for span in extract_content_spans(bytes(payload))]

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, spans, SPAN_SCHEMA)


def q35_main_content_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    pages = docs.select(
        F.format_string("doc://%s.html", F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.format_string(_PAGE_FMT, F.col("text")), "utf-8").alias("html"),
    )
    out = extract_main_text(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return out.select(doc_id.alias("doc_id"), "main_text", "n_kept")


# constant source offset of the article paragraph inside _PAGE_FMT
# (everything before the single %s placeholder)
_PAGE_PREFIX_LEN = len(_PAGE_FMT.split("%s")[0])


def q106_content_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction WITH source spans — the "text/spans"
    half of the north rule's per-document contract. Each fixture page
    (q35's boilerplate-heavy template) yields exactly one kept block
    whose source span is computable in closed form: the template prefix
    is constant-length, so char_start = prefix + leading whitespace and
    char_end = prefix + len(raw text) (the span's end anchors at the
    </p> tag that terminates the text run). DuckDB hash-checks every
    offset and every span text.
    """
    docs = documents(spark, sf_dir)
    pages = docs.select(
        F.format_string("doc://%s.html", F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.format_string(_PAGE_FMT, F.col("text")), "utf-8").alias("html"),
    )
    out = extract_content_span_table(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "block_idx", "char_start", "char_end", "span_text"
    )


ORACLES: dict[str, str] = {
    # the single dense paragraph survives iff it clears the prose floor;
    # every boilerplate block (nav/header/sidebar/footer/title) dies
    "q35_main_content_roundtrip": f"""
        SELECT doc_id,
               CASE WHEN len(trim(text)) >= {MIN_BLOCK_CHARS}
                    THEN trim(text) ELSE '' END AS main_text,
               CAST(CASE WHEN len(trim(text)) >= {MIN_BLOCK_CHARS}
                    THEN 1 ELSE 0 END AS BIGINT) AS n_kept
        FROM documents
    """,
    # one kept block per qualifying doc: span = the %s region of the
    # constant-prefix template (start skips leading whitespace; end is
    # the </p> position, i.e. prefix + raw text length)
    "q106_content_spans": f"""
        SELECT doc_id,
               CAST(0 AS BIGINT) AS block_idx,
               CAST({_PAGE_PREFIX_LEN} + (len(text) - len(ltrim(text)))
                    AS BIGINT) AS char_start,
               CAST({_PAGE_PREFIX_LEN} + len(text) AS BIGINT) AS char_end,
               trim(text) AS span_text
        FROM documents
        WHERE len(trim(text)) >= {MIN_BLOCK_CHARS}
    """,
}

QUERIES = {
    "q35_main_content_roundtrip": q35_main_content_roundtrip,
    "q106_content_spans": q106_content_spans,
}
