"""HTML -> Markdown conversion operator + its oracle-checked query.

The structured-text tier: where the reference service flattens a page
to plain text (converter.py:70-106), modern LLM corpora keep the
page's *structure* — headings, lists, links, code — as Markdown. The
Spark stage is one per-row Python stage (``plans/rows.py::map_rows``)
over (url, payload): zero shuffles, column-pruned scan, the same single-pass branch shape
as the extraction job's T1 path, so it composes with the WARC/fixture
sources unchanged.

q110 proves the whole dialect end-to-end: each ``documents.text`` row
is wrapped into a page exercising every pinned rule (h1/h2, paragraph,
ul with bold + link, ol with italic + inline code, blockquote, fenced
pre, dropped title/style/script) with doc_id-parameterized content, so
the expected Markdown is a closed-form string DuckDB reconstructs and
hash-checks byte-for-byte.

100 TB: conversion is embarrassingly parallel per document — no
shuffle beyond the input fan-out (plans/parallelism.py), exactly like
extract_main_text (operators/main_content.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.plans.parallelism import documents
from ocr_service_spark.plans.rows import map_rows

MD_SCHEMA = "url string, markdown string, n_blocks bigint"


def html_to_markdown_table(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> (url, markdown, n_blocks)."""

    def markdown(url, payload):
        from ocr_service_spark.extraction.markdown import html_to_markdown_blocks

        blocks = [] if payload is None else html_to_markdown_blocks(bytes(payload))
        return [(url, "\n\n".join(blocks), len(blocks))]

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, markdown, MD_SCHEMA)


# Fixture page: every pinned dialect rule, parameterized by doc_id so
# the oracle reconstructs the exact Markdown in SQL. The title/style/
# script content must vanish; everything else maps 1:1 to a block.
_PAGE_FMT = (
    "<!DOCTYPE html><html><head><title>skip me</title>"
    "<style>p{margin:0}</style><script>var n=%s;</script></head><body>\n"
    "<h1>Doc %s</h1>\n"
    "<h2>Section %s</h2>\n"
    "<p>Body %s: %s</p>\n"
    '<ul><li>alpha %s</li><li><b>beta %s</b> '
    '<a href="https://ex.org/doc/%s">link %s</a></li></ul>\n'
    "<ol><li>first %s</li><li><i>second %s</i> and <code>tok_%s</code></li></ol>\n"
    "<blockquote><p>quoted %s</p></blockquote>\n"
    "<pre>shard_%s\n  indent</pre>\n"
    "</body></html>"
)


def q110_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    m = lambda k: (F.col("doc_id") % k).cast("string")  # noqa: E731
    pages = docs.select(
        F.format_string("doc://%s.html", i).alias("url"),
        F.encode(
            F.format_string(
                _PAGE_FMT,
                i,          # script (dropped)
                i,          # h1
                m(5),       # h2
                i, F.col("text"),  # p
                m(3), m(7), i, i,  # ul: alpha, beta, href id, link text
                m(4), m(6), m(9),  # ol: first, second, tok
                m(8),       # blockquote
                i,          # pre
            ),
            "utf-8",
        ).alias("html"),
    )
    out = html_to_markdown_table(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return out.select(doc_id.alias("doc_id"), "markdown", "n_blocks")


# DuckDB reconstruction of the dialect: blocks joined by blank lines;
# the paragraph is whitespace-collapsed + trimmed exactly like the
# converter's block rule (identity on the synthetic corpus, pinned
# anyway so hostile texts fail loudly on both sides equally).
_ORACLE = r"""
    WITH p AS (
        SELECT doc_id,
               CAST(doc_id AS VARCHAR) AS i,
               trim(regexp_replace(
                   'Body ' || CAST(doc_id AS VARCHAR) || ': ' || text,
                   '\s+', ' ', 'g')) AS body,
               chr(10) || chr(10) AS nn, chr(10) AS n1
        FROM documents
    )
    SELECT doc_id,
           '# Doc ' || i
           || nn || '## Section ' || CAST(doc_id % 5 AS VARCHAR)
           || nn || body
           || nn || '- alpha ' || CAST(doc_id % 3 AS VARCHAR)
              || n1 || '- **beta ' || CAST(doc_id % 7 AS VARCHAR)
              || '** [link ' || i || '](https://ex.org/doc/' || i || ')'
           || nn || '1. first ' || CAST(doc_id % 4 AS VARCHAR)
              || n1 || '2. *second ' || CAST(doc_id % 6 AS VARCHAR)
              || '* and `tok_' || CAST(doc_id % 9 AS VARCHAR) || '`'
           || nn || '> quoted ' || CAST(doc_id % 8 AS VARCHAR)
           || nn || '```' || n1 || 'shard_' || i || n1 || '  indent' || n1 || '```'
           AS markdown,
           CAST(7 AS BIGINT) AS n_blocks
    FROM p
"""

ORACLES: dict[str, str] = {"q110_html_markdown": _ORACLE}
QUERIES = {"q110_html_markdown": q110_html_markdown}
