"""``plans/rows.py::map_rows``, the one per-row Python stage: its output
typing and ordering contract, the zip-finder prologue, the null-payload
policy of every parser operator built on it, and a guard that no other
module grows its own batch loop."""

from __future__ import annotations

import hashlib
import importlib
import re
import struct
from pathlib import Path

import pytest

from ocr_service_spark.extraction.png_codec import encode_png_gray
from ocr_service_spark.extraction.warc import build_warc
from ocr_service_spark.plans.rows import map_rows

ROOT = Path(__file__).resolve().parents[1]

_TYPED_SCHEMA = (
    "i int, b bigint, flag boolean, x double, raw binary, words array<string>"
)


def _typed():
    """A per-row fn typed by ``_TYPED_SCHEMA``: a null input gives an
    all-null row, so each type sees a null and a value. A null in an
    int column reaches pandas as NaN. Built inside a function so the
    executors get it by value, not by module name."""

    def row(k):
        if k != k:
            return [(None, None, None, None, None, None)]
        k = int(k)
        return [(k, 10**12 + k, k % 2 == 0, k / 4, bytes([k]), [str(k), "w"])]

    return row


def test_nullable_typed_outputs(spark):
    df = spark.createDataFrame([(1,), (None,), (2,)], "k int").coalesce(1)
    rows = map_rows(df, _typed(), _TYPED_SCHEMA).collect()
    assert [tuple(r) for r in rows] == [
        (1, 10**12 + 1, False, 0.25, bytearray(b"\x01"), ["1", "w"]),
        (None, None, None, None, None, None),
        (2, 10**12 + 2, True, 0.5, bytearray(b"\x02"), ["2", "w"]),
    ]
    out = map_rows(df, _typed(), _TYPED_SCHEMA)
    assert [f.simpleString() for f in out.schema.fields] == [
        "i:int", "b:bigint", "flag:boolean", "x:double", "raw:binary", "words:array<string>",
    ]


def test_empty_partitions_and_no_output_rows(spark):
    # more partitions than rows: some tasks see no batch at all
    df = spark.createDataFrame([(1,), (2,)], "k int").repartition(4)
    assert map_rows(df, _typed(), _TYPED_SCHEMA).count() == 2
    assert map_rows(df.limit(0), _typed(), _TYPED_SCHEMA).collect() == []
    assert map_rows(df, lambda k: [], _TYPED_SCHEMA).collect() == []


def test_several_rows_per_input_keep_order(spark):
    df = spark.createDataFrame([("a", 3), ("b", 0), ("c", 2)], "s string, n int").coalesce(1)
    rows = map_rows(df, lambda s, n: ((s, j) for j in range(n)), "s string, j int").collect()
    assert [tuple(r) for r in rows] == [("a", 0), ("a", 1), ("a", 2), ("c", 0), ("c", 1)]


def test_fn_starts_with_no_zip_finders(spark):
    """Once every worker has run a per-row stage (a worker's first task
    recreates finders through its lazy imports), the prologue leaves
    ``fn`` an importer cache with no zip finder in it."""
    cores = spark.sparkContext.defaultParallelism
    # four tasks per core, so every worker runs the stage
    warm = spark.range(0, 4 * cores, 1, 4 * cores)
    for _ in range(2):
        assert map_rows(warm, lambda i: [(i,)], "i long").count() == 4 * cores

    def probe(_):
        import sys
        import zipimport

        finders = sys.path_importer_cache.values()
        return [(sum(isinstance(f, zipimport.zipimporter) for f in finders),)]

    rows = map_rows(spark.range(0, cores, 1, cores), probe, "zip_finders int").collect()
    assert len(rows) == cores
    assert all(row.zip_finders == 0 for row in rows), rows


# -- null payloads -------------------------------------------------------------
# One normal row and one null-payload row per parser operator built on
# map_rows. Each operator keeps its own null policy: skip the row
# (no output), parse an empty payload (b"" / ""), or emit a default row.
# The expected rows were recorded from the per-operator batch loops that
# map_rows replaced; binary cells compare by digest. ``ocr.ocr_pages``
# has no null policy (a null page image fails the task) and is left out.
_PNG = encode_png_gray(10, 10, bytes(range(0, 200, 2)))
_WAV_PCM = struct.pack("<8h", *((j * 997) % 512 - 256 for j in range(8)))
_WAV = (
    b"RIFF" + struct.pack("<I", 36 + len(_WAV_PCM)) + b"WAVE"
    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    + b"data" + struct.pack("<I", len(_WAV_PCM)) + _WAV_PCM
)
_WARC = build_warc(
    [
        {
            "warc_type": "response", "url": "http://a.test/", "ts": "2020-01-01T00:00:00Z",
            "status": 200, "body": b"<p>hi</p>", "http_headers": {"Content-Type": "text/html"},
        }
    ]
)
_PAGE = "url string, html binary"
_RSS = b"<rss><channel><item><title>T</title><link>http://a.test/1</link></item></channel></rss>"
_PARAGRAPH = b"<nav><a href='/'>home</a></nav><p>" + b"a real paragraph of words " * 6 + b"</p>"
_PARAGRAPH_TEXT = " ".join(["a real paragraph of words"] * 6)

# name -> (module, operator, kwargs, input schema, the normal row's payload)
_NULL_CASES = {
    "outlinks": ("weburl", "extract_outlinks", {}, _PAGE, b'<a href="/x">x</a>'),
    "anchor_edges": ("weburl", "extract_anchor_edges", {}, _PAGE, b'<a href="/x">an x</a>'),
    "canonicals": ("weburl", "extract_canonicals", {}, _PAGE, b'<link rel="canonical" href="/c">'),
    "image_pairs": (
        "weburl", "extract_image_pair_rows", {}, _PAGE, b'<img src="/i.jpg" alt="An image alt">'
    ),
    "feed_links": (
        "weburl", "discover_feed_links", {}, _PAGE,
        b'<link rel="alternate" type="application/rss+xml" href="/feed" title="F">',
    ),
    "hreflang": (
        "weburl", "extract_hreflang_edges", {}, _PAGE,
        b'<link rel="alternate" hreflang="de" href="/de">',
    ),
    "feed_items": ("weburl", "extract_feed_items", {}, _PAGE, _RSS),
    "robots_rules": (
        "weburl", "robots_rules_table", {"agent": "graftbot"}, "host string, robots_txt string",
        "User-agent: *\nDisallow: /p\n",
    ),
    "sitemap_entries": (
        "weburl", "sitemap_entries", {}, "host string, sitemap_xml string",
        "<urlset><url><loc>http://a.test/x</loc><lastmod>2020-01-01</lastmod></url></urlset>",
    ),
    "sitemap_decls": (
        "weburl", "discover_sitemaps", {}, "url string, robots_txt string",
        "Sitemap: http://a.test/s.xml\n",
    ),
    "table_cells": (
        "structure", "extract_table_cells", {}, _PAGE,
        b"<table><tr><th>h</th><td>v</td></tr></table>",
    ),
    "outline": ("structure", "extract_outline_table", {}, _PAGE, b"<h1>A</h1><h2>B</h2>"),
    "structured": (
        "structure", "extract_structured_table", {}, _PAGE,
        b'<meta property="og:title" content="T">',
    ),
    # the null row's URL carries a date: an empty payload still reaches
    # the URL rung of the ladder
    "pub_dates": (
        "structure", "extract_pub_dates", {}, _PAGE,
        b'<meta property="article:published_time" content="2020-02-03T00:00:00Z">',
    ),
    "markdown": ("markdown_ops", "html_to_markdown_table", {}, _PAGE, b"<h1>T</h1><p>x</p>"),
    "main_text": ("main_content", "extract_main_text", {}, _PAGE, _PARAGRAPH),
    "content_spans": ("main_content", "extract_content_span_table", {}, _PAGE, _PARAGRAPH),
    "frames": ("multimodal", "sample_frames", {}, _PAGE, _PNG),
    "resize": ("multimodal", "resize_images", {"target": (4, 4)}, _PAGE, _PNG),
    "phash": ("multimodal", "image_phash", {}, "img_id bigint, html binary", _PNG),
    "audio": ("multimodal", "extract_audio_features", {}, _PAGE, _WAV),
    "media": ("multimodal", "extract_media_features", {}, _PAGE, _PNG),
    "align": (
        "bitext", "align_editions", {}, "page_key string, text_a string, text_b string",
        ("aa\n\nbbb", "aa\n\nbbbb"),
    ),
    "minhash": ("dedup", "_shingle_sigs", {}, "doc_id bigint, text string", "a b c d e"),
    "warc": (
        "sources.warc", "read_warc", {"id_cols": ("shard",)}, "shard string, data binary", _WARC
    ),
}


def _null_case_input(spark, name):
    """The case's two input rows, one key each (the schema's first
    column): the normal row with the case's payload, then the null row
    with every payload column null (bitext has two)."""
    _, _, _, ddl, payload = _NULL_CASES[name]
    first = ddl.split()[0]
    keys = {
        "url": ("http://a.test/p.html", "http://a.test/2019/05/06/q.html"),
        "host": ("a.test", "b.test"),
        "img_id": (1, 2),
        "doc_id": (1, 2),
    }.get(first, ("k1", "k2"))
    payloads = payload if isinstance(payload, tuple) else (payload,)
    rows = [(keys[0], *payloads), (keys[1], *(None for _ in payloads))]
    return spark.createDataFrame(rows, ddl).coalesce(1)


def _null_case_rows(spark, name):
    module, op, kwargs, _, _ = _NULL_CASES[name]
    package = "ocr_service_spark" if "." in module else "ocr_service_spark.operators"
    operator = getattr(importlib.import_module(f"{package}.{module}"), op)
    out = operator(_null_case_input(spark, name), **kwargs)
    return sorted((tuple(_cell(v) for v in row) for row in out.collect()), key=repr)


def _cell(v):
    if isinstance(v, (bytes, bytearray)):
        return "sha256:" + hashlib.sha256(bytes(v)).hexdigest()[:16]
    if isinstance(v, list):
        return tuple(_cell(x) for x in v)
    return v


_NULL_EXPECTED = {
    "align": [
        ("k1", 0, 0, "1-1", 2, 2),
        ("k1", 1, 1, "1-1", 3, 4),
        ("k2", 0, 0, "1-1", 0, 0),
    ],
    "anchor_edges": [
        ("http://a.test/p.html", 0, "http://a.test/x", "an x"),
    ],
    "audio": [
        (
            "http://a.test/p.html", "audio/wav", 8000, 1, 16, 8, 0.001, "46a91d09ab12c0e1", 239276,
            1, 608400, 174880, 163216,
        ),
    ],
    "canonicals": [
        ("http://a.test/2019/05/06/q.html", None),
        ("http://a.test/p.html", "http://a.test/c"),
    ],
    "content_spans": [
        (
            "http://a.test/p.html", 0, 34, 190,
            _PARAGRAPH_TEXT,
        ),
    ],
    "feed_items": [
        ("http://a.test/p.html", "rss", 0, "T", "http://a.test/1", None),
    ],
    "feed_links": [
        ("http://a.test/p.html", 0, "http://a.test/feed", "rss", "F"),
    ],
    "frames": [
        ("http://a.test/p.html", 0, 0.0, 10, 10, "e4d0dcb8d1714eb9", 9900),
    ],
    "hreflang": [
        ("http://a.test/p.html", "de", "http://a.test/de"),
    ],
    "image_pairs": [
        ("http://a.test/p.html", 0, "http://a.test/i.jpg", "An image alt", None, False, True),
    ],
    "main_text": [
        ("http://a.test/2019/05/06/q.html", "", 0),
        (
            "http://a.test/p.html",
            _PARAGRAPH_TEXT,
            1,
        ),
    ],
    "markdown": [
        ("http://a.test/2019/05/06/q.html", "", 0),
        ("http://a.test/p.html", "# T\n\nx", 2),
    ],
    "media": [
        (
            "http://a.test/p.html", "image/png", 10, 10, 1, "e4d0dcb8d1714eb9",
            (
                0.3882350027561188, 0.22640100121498108, 0.0, 0.7764710187911987,
                0.3199999928474426, 0.03999999910593033, 0.007842999882996082, 0.07843100279569626,
            ),
        ),
    ],
    "minhash": [
        (
            1, 518650293, 688880270, 9901491, 882158525, 1789423261, 1574583785, 2519497245,
            3251507920, 1029718871, 607205569, 140451767, 2087707054, 1554902156, 770796957,
            2737002061, 158636346,
        ),
    ],
    "outline": [
        ("http://a.test/p.html", 0, 1, "A", "A"),
        ("http://a.test/p.html", 1, 2, "B", "A > B"),
    ],
    "outlinks": [
        ("http://a.test/2019/05/06/q.html", -1, None, False),
        ("http://a.test/p.html", 0, "http://a.test/x", False),
    ],
    "phash": [
        (1, 0, 0),
    ],
    "pub_dates": [
        ("http://a.test/2019/05/06/q.html", "2019-05-06", "url"),
        ("http://a.test/p.html", "2020-02-03", "meta"),
    ],
    "resize": [
        ("http://a.test/p.html", "sha256:2b37a09aa9beb649", 4, 4),
    ],
    "robots_rules": [
        ("a.test", 0, 2, "/p", "^/p"),
    ],
    "sitemap_decls": [
        ("http://a.test/p.html", 0, "http://a.test/s.xml"),
    ],
    "sitemap_entries": [
        ("a.test", "url", "http://a.test/x", "2020-01-01"),
    ],
    "structured": [
        ("http://a.test/p.html", 0, "og", "og:title", "T"),
    ],
    "table_cells": [
        ("http://a.test/p.html", 0, 0, 0, True, "h"),
        ("http://a.test/p.html", 0, 0, 1, False, "v"),
    ],
    "warc": [
        (
            "k1", "response", "http://a.test/", "2020-01-01T00:00:00Z", 200, "text/html",
            "sha256:0a4735281db70022",
        ),
    ],
}


@pytest.mark.parametrize("name", sorted(_NULL_CASES))
def test_null_payload_policy(spark, name):
    assert _null_case_rows(spark, name) == _NULL_EXPECTED[name]


_EXCLUDED = {
    # the benchmark's extraction hot path: accumulators and an opened
    # document kept across rows
    "ocr_service_spark/operators/extract.py": 2,
    # numpy over the whole batch, not one row at a time
    "ocr_service_spark/operators/similarity.py": 2,
    # reads the reference checkout's documents
    "ocr_service_spark/sources/pages.py": 1,
    "ocr_service_spark/plans/rows.py": 1,
}


def test_only_map_rows_and_the_named_bodies_loop_over_batches():
    loop = re.compile(r"\bfor\b.*\bin batches\b")
    found: dict[str, int] = {}
    for path in sorted((ROOT / "ocr_service_spark").rglob("*.py")):
        hits = sum(bool(loop.search(line)) for line in path.read_text().splitlines())
        if hits:
            found[str(path.relative_to(ROOT))] = hits
    assert found == _EXCLUDED
