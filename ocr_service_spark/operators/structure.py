"""Document-structure tier: HTML table extraction, heading outlines,
sentence segmentation — each as an oracle-twinned query.

Structured signals a training-data pipeline mines on top of the flat
extracted text (reference ``converter.py:70-106`` produces only the
flat text): table cells for table-to-text / QA mining, section
breadcrumbs for structure-aware chunking, sentence tables for
sentence-level dedup and packing. All three are roundtrip queries in
the q35/q96 house pattern: the fixture page/text is synthesized in
closed form from ``documents``, the operator recovers the structure,
and DuckDB recomputes the expected structure from the same closed form
— so the driver hash-checks the full dialect, including the
nested-table and breadcrumb-pop rules.

100 TB shape: q120/q123 are one Arrow-batched mapInPandas over
(url, payload) — no shuffle beyond the input fan-out
(plans/parallelism.py), the explode happens inside the UDF and
is capped (MAX_CELLS / MAX_HEADINGS) so a pathological page bounds its
own fan-out; q122 is pure whole-stage-codegen (regexp mark + split +
posexplode), no Python at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.plans.parallelism import documents

CELLS_SCHEMA = (
    "url string, table_idx bigint, row_idx bigint, col_idx bigint, "
    "is_header boolean, cell_text string"
)

OUTLINE_SCHEMA = (
    "url string, heading_idx bigint, level int, heading_text string, "
    "section_path string"
)


def extract_table_cells(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per table cell:
    (url, table_idx, row_idx, col_idx, is_header, cell_text) per the
    dialect pinned in extraction/html_tables.py."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_service_spark.extraction.html_tables import extract_tables

        for batch in batches:
            urls, tbls, rows, cols, hdrs, texts = [], [], [], [], [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                for tbl, row, col, hdr, text in extract_tables(bytes(payload)):
                    urls.append(url)
                    tbls.append(tbl)
                    rows.append(row)
                    cols.append(col)
                    hdrs.append(hdr)
                    texts.append(text)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "table_idx": pd.Series(tbls, dtype="int64"),
                    "row_idx": pd.Series(rows, dtype="int64"),
                    "col_idx": pd.Series(cols, dtype="int64"),
                    "is_header": pd.Series(hdrs, dtype="bool"),
                    "cell_text": texts,
                }
            )

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=CELLS_SCHEMA)


def extract_outline_table(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per h1-h6 heading:
    (url, heading_idx, level, heading_text, section_path)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_service_spark.extraction.html_tables import extract_outline

        for batch in batches:
            urls, idxs, lvls, texts, paths = [], [], [], [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                for idx, level, text, path in extract_outline(bytes(payload)):
                    urls.append(url)
                    idxs.append(idx)
                    lvls.append(level)
                    texts.append(text)
                    paths.append(path)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "heading_idx": pd.Series(idxs, dtype="int64"),
                    "level": pd.Series(lvls, dtype="int32"),
                    "heading_text": texts,
                    "section_path": paths,
                }
            )

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=OUTLINE_SCHEMA)


def segment_sentences(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per sentence: every non-key column is replaced by
    (sent_idx bigint, sentence string). Pinned dialect: a sentence
    boundary is one of ``. ! ?`` followed by one or more SPACES (the
    terminator stays with its sentence; other whitespace is not a
    boundary); empty/whitespace-only fragments are dropped. Pure
    codegen: regexp mark -> split -> posexplode, no Python."""
    marked = F.regexp_replace(F.col(text_col), r"([.!?]) +", "$1\x01")
    keys = [c for c in df.columns if c != text_col]
    exploded = df.select(
        *keys, F.posexplode(F.split(marked, "\x01")).alias("pos", "sentence")
    )
    return exploded.where(F.length(F.trim("sentence")) > 0).select(
        *keys, F.col("pos").cast("bigint").alias("sent_idx"), "sentence"
    )


# ---------------------------------------------------------------------------
# q120: table extraction roundtrip
# ---------------------------------------------------------------------------

# every doc renders one 4x2 table; cell (1,1) carries inline markup the
# extractor must strip, and every 10th doc nests a second table inside
# that cell (its text must NOT leak into the parent cell)
_TABLE_HEAD = (
    "<html><body><p>preamble outside any table</p>"
    "<table><tr><th>field</th><th>value</th></tr><tr><td>doc</td><td>"
)
_TABLE_TAIL_FMT = (
    "</td></tr><tr><td>chars</td><td>%s</td></tr>"
    "<tr><td>text</td><td>%s</td></tr></table>"
    "<p>postamble outside any table</p></body></html>"
)


def q120_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML ``<table>`` -> typed cell rows, hash-checked cell by cell.
    The fixture pins the whole dialect: th/td header flag, positional
    row/col indices, inline-markup stripping inside cells (``<b>``),
    nested-table isolation (every 10th doc nests a table inside a cell:
    the inner text forms table_idx 1 and the parent cell keeps only its
    own character data), and text outside tables contributing nothing."""
    docs = documents(spark, sf_dir)
    id_s = F.col("doc_id").cast("string")
    doc_cell = F.when(
        F.col("doc_id") % 10 == 0,
        F.format_string(
            "<b>%s</b><table><tr><td>inner %s</td></tr></table> tail", id_s, id_s
        ),
    ).otherwise(F.format_string("<b>%s</b>", id_s))
    page = F.concat(
        F.lit(_TABLE_HEAD),
        doc_cell,
        F.format_string(
            _TABLE_TAIL_FMT, F.col("n_chars").cast("string"), F.trim("text")
        ),
    )
    pages = docs.select(
        F.format_string("doc://%s.html", id_s).alias("url"),
        F.encode(page, "utf-8").alias("html"),
    )
    out = extract_table_cells(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"),
        "table_idx",
        "row_idx",
        "col_idx",
        "is_header",
        "cell_text",
    )


_Q120_ORACLE = """
    WITH d AS (SELECT doc_id, n_chars, trim(text) AS txt FROM documents)
    SELECT doc_id, CAST(0 AS BIGINT) AS table_idx, CAST(0 AS BIGINT) AS row_idx,
           CAST(0 AS BIGINT) AS col_idx, true AS is_header, 'field' AS cell_text
    FROM d
    UNION ALL
    SELECT doc_id, 0, 0, 1, true, 'value' FROM d
    UNION ALL
    SELECT doc_id, 0, 1, 0, false, 'doc' FROM d
    UNION ALL
    SELECT doc_id, 0, 1, 1, false,
           CASE WHEN doc_id % 10 = 0
                THEN CAST(doc_id AS VARCHAR) || ' tail'
                ELSE CAST(doc_id AS VARCHAR) END
    FROM d
    UNION ALL
    SELECT doc_id, 0, 2, 0, false, 'chars' FROM d
    UNION ALL
    SELECT doc_id, 0, 2, 1, false, CAST(n_chars AS VARCHAR) FROM d
    UNION ALL
    SELECT doc_id, 0, 3, 0, false, 'text' FROM d
    UNION ALL
    SELECT doc_id, 0, 3, 1, false, txt FROM d
    UNION ALL
    SELECT doc_id, 1, 0, 0, false, 'inner ' || CAST(doc_id AS VARCHAR)
    FROM d WHERE doc_id % 10 = 0
"""


# ---------------------------------------------------------------------------
# q122: sentence segmentation roundtrip
# ---------------------------------------------------------------------------


def q122_sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation over prose built in closed form: each
    doc's tokens are grouped into sentences of (2 + doc_id % 3) words
    with terminators cycling ``. ! ?`` by sentence index, joined with
    single spaces; the segmenter must recover exactly those groups
    (terminator kept with its sentence). Both the construction and the
    split are whole-stage codegen."""
    docs = documents(spark, sf_dir)
    toks = F.split(F.trim("text"), r"\s+")
    w = (F.col("doc_id") % 3 + 2).cast("int")
    n_sent = F.ceil(F.size(toks) / w).cast("int")
    sent = lambda i: F.concat(  # noqa: E731
        F.array_join(F.slice(toks, i * w + 1, w), " "),
        F.when(i % 3 == 0, ".").when(i % 3 == 1, "!").otherwise("?"),
    )
    prose = F.array_join(
        F.transform(F.sequence(F.lit(0), n_sent - 1), sent), " "
    )
    built = docs.select("doc_id", prose.alias("text"))
    return segment_sentences(built, "text")


_Q122_ORACLE = r"""
    WITH s AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS t,
               2 + doc_id % 3 AS w
        FROM documents
    )
    SELECT doc_id,
           unnest(range(0, (len(t) + w - 1) // w)) AS sent_idx,
           unnest(list_transform(
               range(0, (len(t) + w - 1) // w),
               i -> array_to_string(list_slice(t, i * w + 1, (i + 1) * w), ' ')
                    || CASE i % 3 WHEN 0 THEN '.' WHEN 1 THEN '!' ELSE '?' END
           )) AS sentence
    FROM s
"""


# ---------------------------------------------------------------------------
# q123: heading outline roundtrip
# ---------------------------------------------------------------------------

_OUTLINE_FMT = (
    "<html><body><h1>Doc <em>%s</em></h1><p>intro prose</p>"
    "<h2>Section %s</h2><p>body prose</p>"
    "%s<p>more prose</p>"
    "<h2>End %s</h2><p>closing prose</p></body></html>"
)


def q123_section_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading outline with breadcrumb paths. The fixture pins the
    stack rule from both directions: even docs' third heading is an h2
    (pops the previous h2 — path shortens), odd docs' is an h3 (nests
    under the open h2 — path deepens), and the final h2 pops everything
    back to the h1. Inline markup inside ``<h1>`` pins tag stripping."""
    docs = documents(spark, sf_dir)
    id_s = F.col("doc_id").cast("string")
    m = (F.col("doc_id") % 5).cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    third = F.when(
        F.col("doc_id") % 2 == 0, F.format_string("<h2>Part %s</h2>", id_s)
    ).otherwise(F.format_string("<h3>Sub %s</h3>", k))
    page = F.format_string(_OUTLINE_FMT, id_s, m, third, id_s)
    pages = docs.select(
        F.format_string("doc://%s.html", id_s).alias("url"),
        F.encode(page, "utf-8").alias("html"),
    )
    out = extract_outline_table(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "heading_idx", "level", "heading_text",
        "section_path",
    )


_Q123_ORACLE = """
    WITH d AS (
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) AS h1,
               'Section ' || CAST(doc_id % 5 AS VARCHAR) AS h2,
               CASE WHEN doc_id % 2 = 0
                    THEN 'Part ' || CAST(doc_id AS VARCHAR)
                    ELSE 'Sub ' || CAST(doc_id % 7 AS VARCHAR) END AS h3rd,
               'End ' || CAST(doc_id AS VARCHAR) AS h4th
        FROM documents
    )
    SELECT doc_id, CAST(0 AS BIGINT) AS heading_idx, CAST(1 AS INT) AS level,
           h1 AS heading_text, h1 AS section_path
    FROM d
    UNION ALL
    SELECT doc_id, 1, 2, h2, h1 || ' > ' || h2 FROM d
    UNION ALL
    SELECT doc_id, 2,
           CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END,
           h3rd,
           CASE WHEN doc_id % 2 = 0
                THEN h1 || ' > ' || h3rd
                ELSE h1 || ' > ' || h2 || ' > ' || h3rd END
    FROM d
    UNION ALL
    SELECT doc_id, 3, 2, h4th, h1 || ' > ' || h4th FROM d
"""


STRUCTURED_SCHEMA = (
    "url string, field_idx bigint, kind string, field_key string, "
    "field_value string"
)


def extract_structured_table(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per structured-data
    field: (url, field_idx, kind, field_key, field_value) per the
    dialect pinned in extraction/structured_data.py. Same 100-TB shape
    as the other tier members: one Arrow-batched mapInPandas, the
    explode inside the UDF and capped at MAX_FIELDS."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_service_spark.extraction.structured_data import extract_structured

        for batch in batches:
            urls, idxs, kinds, keys, vals = [], [], [], [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                for idx, kind, key, val in extract_structured(bytes(payload)):
                    urls.append(url)
                    idxs.append(idx)
                    kinds.append(kind)
                    keys.append(key)
                    vals.append(val)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "field_idx": pd.Series(idxs, dtype="int64"),
                    "kind": kinds,
                    "field_key": keys,
                    "field_value": vals,
                }
            )

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=STRUCTURED_SCHEMA)


_SD_PAGE_HEAD = '<html><head>\n<meta property="og:title" content="Doc %s &amp; friends"/>\n'
_SD_LOCALE_FMT = "<meta content='%s' property='og:locale'/>\n"
_SD_META_FMT = (
    '<meta name="description" content="chars %s"/>\n'
    '<meta name="viewport" content="width=device-width"/>\n'
)
_SD_LD_ARTICLE = (
    '<script type="application/ld+json">'
    '{"@type":"Article","name":"doc %s","wordCount":%s}</script>'
)
_SD_LD_PRODUCT = (
    '<script type="application/ld+json">'
    '{"@type":"Product","name":"doc %s","offers":{"price":1}}</script>'
)
_SD_LD_NEWS = (
    '<script type="APPLICATION/LD+JSON">'
    '[{"@type":"NewsArticle","headline":"h%s"},{"@type":"BreadcrumbList"}]'
    "</script>"
)
_SD_LD_BROKEN = '<script type="application/ld+json">{not json</script>'
_SD_PAGE_TAIL = "\n</head><body><p>Body text contributes nothing.</p></body></html>"


def q126_structured_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open Graph + allowlisted meta + JSON-LD extraction, hash-checked
    field by field. The fixture pins the whole dialect: entity
    unescaping in content attributes (``&amp;``), attribute order and
    quote-style independence (the og:locale meta is single-quoted with
    content first), the meta allowlist (viewport present on every page
    and always dropped), case-insensitive ld+json type matching, array
    and object roots, the scalar-fields-only rule (Product's nested
    ``offers`` object is skipped), JSON number -> string rendering
    (wordCount), and the malformed-JSON skip contract (doc_id%4==3's
    block contributes zero rows to the hash)."""
    docs = documents(spark, sf_dir)
    id_s = F.col("doc_id").cast("string")
    nc_s = F.col("n_chars").cast("string")
    d = F.col("doc_id")
    locale = F.when(
        d % 2 == 0, F.format_string(_SD_LOCALE_FMT, F.col("lang"))
    ).otherwise(F.lit(""))
    ld = (
        F.when(d % 4 == 0, F.format_string(_SD_LD_ARTICLE, id_s, nc_s))
        .when(d % 4 == 1, F.format_string(_SD_LD_PRODUCT, id_s))
        .when(d % 4 == 2, F.format_string(_SD_LD_NEWS, id_s))
        .otherwise(F.lit(_SD_LD_BROKEN))
    )
    page = F.concat(
        F.format_string(_SD_PAGE_HEAD, id_s),
        locale,
        F.format_string(_SD_META_FMT, nc_s),
        ld,
        F.lit(_SD_PAGE_TAIL),
    )
    pages = docs.select(
        F.format_string("doc://%s.html", id_s).alias("url"),
        F.encode(page, "utf-8").alias("html"),
    )
    out = extract_structured_table(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "field_idx", "kind", "field_key", "field_value"
    )


_Q126_ORACLE = """
    WITH d AS (
        SELECT doc_id, lang, n_chars,
               CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS ld_base
        FROM documents
    )
    SELECT doc_id, CAST(0 AS BIGINT) AS field_idx, 'og' AS kind,
           'og:title' AS field_key,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' & friends' AS field_value
    FROM d
    UNION ALL
    SELECT doc_id, 1, 'og', 'og:locale', lang FROM d WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, ld_base - 1, 'meta', 'description',
           'chars ' || CAST(n_chars AS VARCHAR)
    FROM d
    UNION ALL
    SELECT doc_id, ld_base, 'ld', '@type',
           CASE doc_id % 4 WHEN 0 THEN 'Article'
                           WHEN 1 THEN 'Product'
                           ELSE 'NewsArticle' END
    FROM d WHERE doc_id % 4 < 3
    UNION ALL
    SELECT doc_id, ld_base + 1, 'ld',
           CASE WHEN doc_id % 4 = 2 THEN 'headline' ELSE 'name' END,
           CASE WHEN doc_id % 4 = 2 THEN 'h' || CAST(doc_id AS VARCHAR)
                ELSE 'doc ' || CAST(doc_id AS VARCHAR) END
    FROM d WHERE doc_id % 4 < 3
    UNION ALL
    SELECT doc_id, ld_base + 2, 'ld', 'wordCount', CAST(n_chars AS VARCHAR)
    FROM d WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id, ld_base + 2, 'ld', '@type', 'BreadcrumbList'
    FROM d WHERE doc_id % 4 = 2
"""


# -- q129: publication-date extraction ---------------------------------------
#
# The htmldate-style precedence ladder (meta > <time datetime> > URL
# path date), dialect pinned in extraction/dates.py. Each doc_id%5
# class isolates one rung and plants DECOYS on the rungs below it, so
# the oracle hash proves the ladder order, not just per-rung parsing:
# class 0 (OG meta with full ISO timestamp) must beat a <time> decoy
# AND a URL decoy; class 2 (<time>) must beat a URL decoy; class 4
# plants an out-of-window meta (1492) and a calendar-invalid <time>
# (Feb 30) that must BOTH be rejected without consuming their rungs.
PUBDATE_SCHEMA = "url string, pub_date string, date_source string"

_DECOY_TIME = '<time datetime="2001-09-09">then</time>'
_URL_DECOY_SEG = "2011/11/11"


def extract_pub_dates(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> (url, pub_date 'YYYY-MM-DD'
    or null, date_source meta/time/url/none). Map-only: one Arrow
    batch in, one row per page out, the date ladder entirely inside
    the UDF — at 100 TB this is a zero-shuffle projection."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_service_spark.extraction.dates import extract_pub_date

        for batch in batches:
            dates, sources = [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                d, src = extract_pub_date(
                    bytes(payload) if payload is not None else b"", url
                )
                dates.append(d.isoformat() if d is not None else None)
                sources.append(src)
            yield pd.DataFrame(
                {"url": batch["url"], "pub_date": dates, "date_source": sources}
            )

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=PUBDATE_SCHEMA)


def q129_pub_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publication-date ladder over closed-form fixture pages: per doc,
    the resolved date string and which rung produced it. See the
    module-level fixture notes above; the true date is closed-form in
    doc_id (year 2000+id%20, month 1+id%12, day 1+id%28) so DuckDB
    recomputes it without parsing any HTML."""
    docs = documents(spark, sf_dir)
    d = F.col("doc_id")
    iso = F.format_string(
        "%04d-%02d-%02d",
        (d % 20 + 2000).cast("int"),
        (d % 12 + 1).cast("int"),
        (d % 28 + 1).cast("int"),
    )
    cls = d % 5
    markup = (
        F.when(
            cls == 0,
            F.concat(
                F.lit('<meta property="article:published_time" content="'),
                iso,
                F.lit('T10:30:00+02:00"/>'),
                F.lit(_DECOY_TIME),
            ),
        )
        # attr order + quote style pinned on the name=date arm
        .when(cls == 1, F.concat(F.lit("<meta content='"), iso, F.lit("' name='date'>")))
        .when(cls == 2, F.concat(F.lit('<time datetime="'), iso, F.lit('">posted</time>')))
        .when(cls == 3, F.lit(""))
        .otherwise(
            F.lit(
                '<meta name="date" content="1492-01-01"/>'
                '<time datetime="2021-02-30">bad</time>'
            )
        )
    )
    page = F.concat(
        F.lit("<html><head>"), markup, F.lit("</head><body>b</body></html>")
    )
    seg = (
        F.when(cls.isin(0, 2), F.lit(_URL_DECOY_SEG + "/"))
        .when(cls == 3, F.concat(iso.substr(1, 4), F.lit("/"),
                                 (d % 12 + 1).cast("string"), F.lit("/"),
                                 (d % 28 + 1).cast("string"), F.lit("/")))
        .otherwise(F.lit("a/"))
    )
    pages = docs.select(
        F.concat(
            F.lit("http://news.example.com/"),
            seg,
            F.format_string("p%s.html", d.cast("string")),
        ).alias("url"),
        F.encode(page, "utf-8").alias("html"),
    )
    out = extract_pub_dates(pages)
    doc_id = F.regexp_extract("url", r"/p(\d+)\.html$", 1).cast("bigint")
    return out.select(doc_id.alias("doc_id"), "pub_date", "date_source")


_Q129_ORACLE = """
    SELECT doc_id,
           CASE WHEN doc_id % 5 <= 3 THEN
               strftime(make_date(CAST(2000 + doc_id % 20 AS INT),
                                  CAST(1 + doc_id % 12 AS INT),
                                  CAST(1 + doc_id % 28 AS INT)), '%Y-%m-%d')
           END AS pub_date,
           CASE doc_id % 5
               WHEN 0 THEN 'meta' WHEN 1 THEN 'meta'
               WHEN 2 THEN 'time' WHEN 3 THEN 'url'
               ELSE 'none' END AS date_source
    FROM documents
"""


QUERIES = {
    "q120_table_extract": q120_table_extract,
    "q122_sentence_segmentation": q122_sentence_segmentation,
    "q123_section_outline": q123_section_outline,
    "q126_structured_data": q126_structured_data,
    "q129_pub_dates": q129_pub_dates,
}

ORACLES: dict[str, str] = {
    "q120_table_extract": _Q120_ORACLE,
    "q122_sentence_segmentation": _Q122_ORACLE,
    "q123_section_outline": _Q123_ORACLE,
    "q126_structured_data": _Q126_ORACLE,
    "q129_pub_dates": _Q129_ORACLE,
}
