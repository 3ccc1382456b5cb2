"""Extraction-roundtrip queries: the REAL extraction pipeline under a
DuckDB oracle.

The driver's oracle can't run our extractors, but it can verify them
end-to-end on payloads whose expected extraction is SQL-expressible:
wrap each ``documents.text`` (clean ``[a-z0-9 ]`` word-soup) into a
synthetic HTML/RTF/XML payload, push it through the full Spark
extraction job (classify -> route -> extract -> finalize), and compare
the extracted text against the trivially-computable expectation. This
oracles the actual mapInPandas pipeline, not a lookalike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.operators.extract import extract_documents
from ocr_service_spark.plans.parallelism import documents, fan_out
from ocr_service_spark.plans.rows import map_rows
from ocr_service_spark.sources.tables import read_table


def _extract_wrapped(docs: DataFrame, fmt: str, ext: str) -> DataFrame:
    pages = docs.select(
        F.format_string("doc://%s." + ext, F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.format_string(fmt, F.col("text")), "utf-8").alias("html"),
    )
    results = extract_documents(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return results.select(
        doc_id.alias("doc_id"),
        "extracted_text",
        "content_type",
        "pages",
        "success",
        "doc_class",
    )


def q30_extract_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    fmt = "<!DOCTYPE html>\n<html><head><title>t</title></head><body><p>%s</p></body></html>"
    return _extract_wrapped(documents(spark, sf_dir), fmt, "html")


def q31_extract_rtf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    fmt = "{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Arial;}}%s\\par}"
    return _extract_wrapped(documents(spark, sf_dir), fmt, "rtf")


def q32_extract_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    fmt = '<?xml version="1.0"?><doc kind="synthetic">%s</doc>'
    return _extract_wrapped(documents(spark, sf_dir), fmt, "xml")


def q33_payload_ladder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-S4 + footer echo under an oracle: every ingest-ladder rung
    (JSON envelope / JSON array envelope / null binary_data skip / raw
    base64 / raw text) built from ``documents.text``, decoded by
    ``decode_payload_ladder`` and pushed through the REAL extraction
    job; the expected output per rung is SQL-expressible."""
    from ocr_service_spark.sources.pages import decode_payload_ladder

    docs = documents(spark, sf_dir)
    # F.base64 emits RFC-2045 chunked output (newline every 76 chars);
    # the reference's strict validator only accepts unchunked base64
    b64 = F.regexp_replace(F.base64(F.encode("text", "utf-8")), "[\\r\\n]", "")
    footer_map = F.create_map(F.lit("src"), F.col("lang"))
    rung = F.col("doc_id") % 5
    body = (
        # 0: JSON envelope {binary_data, footer}
        F.when(rung == 0, F.to_json(F.struct(b64.alias("binary_data"), footer_map.alias("footer"))))
        # 1: envelope without binary_data -> null-payload skip (S3)
        .when(rung == 1, F.to_json(F.struct(footer_map.alias("footer"))))
        # 2: JSON ARRAY envelope -> reference takes record[0]
        .when(rung == 2, F.to_json(F.array(F.struct(b64.alias("binary_data"), footer_map.alias("footer")))))
        # 3: whole-body base64 (no envelope)
        .when(rung == 3, b64)
        # 4: raw text body ('raw: ' prefix keeps it out of the strict-b64 rung)
        .otherwise(F.concat(F.lit("raw: "), F.col("text")))
    )
    pages = docs.select(
        F.format_string("doc://%s.txt", F.col("doc_id").cast("string")).alias("url"),
        body.alias("body"),
    )
    decoded = decode_payload_ladder(pages, src_col="body")
    results = extract_documents(decoded)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return results.select(
        doc_id.alias("doc_id"),
        "extracted_text",
        "success",
        "ocr_skipped",
        F.col("footer")["src"].alias("footer_src"),
    )


# Charset rungs for q62 (doc_id % 6): (python codec, BOM, html head
# declaration, marker phrase). Each phrase is chosen so the WRONG
# decode garbles it — the cp1252 rungs use 0x80-0x9F punctuation
# (euro, em-dash, curly quotes) that latin-1/utf-8 misread, the UTF-16
# rungs non-Latin scripts; rung 4 declares iso-8859-1 over cp1252
# bytes, the classic web misdeclaration the WHATWG label mapping
# exists for.
CS_RUNGS: tuple[tuple[str, bytes, str, str], ...] = (
    ("utf-8", b"", "", "café naïve probe"),
    ("utf-8", b"\xef\xbb\xbf", "", "σπαρκ utf8 bom"),
    ("cp1252", b"", '<meta charset="windows-1252">',
     "déjà € “smart” — dash"),
    ("utf-16-le", b"\xff\xfe", "", "Юникод ✓ utf16le"),
    ("cp1252", b"",
     '<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">',
     "naïve € mislabel — ok"),
    ("utf-16-be", b"\xfe\xff", "", "ΑΒΓ ✓ utf16be"),
)
CS_EXPECTED_LABELS = ("utf-8", "utf-8-sig", "cp1252", "utf-16-le", "cp1252", "utf-16-be")
_CS_HTML_FMT = (
    "<!DOCTYPE html>\n<html><head>%s<title>t</title></head>"
    "<body><p>%s</p></body></html>"
)


def q62_charset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing under an oracle: every rung of the WHATWG-style
    decode ladder (extraction/charset.py) exercised through the REAL
    extraction job — BOM'd UTF-8/UTF-16LE/BE pages, a declared
    windows-1252 page, a cp1252 page mislabelled iso-8859-1 (decoded
    as cp1252 per the WHATWG label rule), and an undeclared UTF-8
    probe page. The marker phrases only survive when the right codec
    is picked, so extracted_text + the charset metadata column pin the
    full ladder. Beyond the reference (which decodes everything as
    UTF-8 via bs4, converter.py:70-106) — this is the web-corpus
    reality of a Common-Crawl-style pages table."""
    docs = documents(spark, sf_dir, "doc_id", "text")

    def page(doc_id, text):
        i = int(doc_id)
        codec, bom, decl, phrase = CS_RUNGS[i % 6]
        html = _CS_HTML_FMT % (decl, f"{phrase} {text}")
        return [(f"doc://{i}.html", bom + html.encode(codec))]

    pages = map_rows(docs, page, "url string, html binary")
    results = extract_documents(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return results.select(
        doc_id.alias("doc_id"),
        F.coalesce(F.col("metadata")["charset"], F.lit("utf-8")).alias("charset"),
        "extracted_text",
        "content_type",
        "pages",
        "success",
        "doc_class",
    )


def q66_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer-encoding unwrap under an oracle: each document's HTML
    payload arrives gzip'd (rung 0), zlib'd (rung 1), double-gzip'd
    (rung 2) or uncompressed (rung 3) — the REAL pipeline must
    decompress (budget-capped, extraction/transfer.py), classify the
    inner HTML and extract it identically to the uncompressed path,
    recording the unwrap chain in metadata. Beyond the reference
    (whose callers upload decoded files); on a Common-Crawl-style
    corpus compressed bodies are routine."""
    import gzip as _gzip
    import zlib as _zlib

    docs = documents(spark, sf_dir, "doc_id", "text")
    fmt = "<!DOCTYPE html>\n<html><head><title>t</title></head><body><p>%s</p></body></html>"

    def compressed(doc_id, text):
        i = int(doc_id)
        page = (fmt % text).encode()
        rung = i % 4
        if rung == 0:
            payload = _gzip.compress(page, mtime=0)
        elif rung == 1:
            payload = _zlib.compress(page)
        elif rung == 2:
            payload = _gzip.compress(_gzip.compress(page, mtime=0), mtime=0)
        else:
            payload = page
        return [(f"doc://{i}.html", payload)]

    pages = map_rows(docs, compressed, "url string, html binary")
    results = extract_documents(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return results.select(
        doc_id.alias("doc_id"),
        F.coalesce(F.col("metadata")["content_encoding"], F.lit("none")).alias(
            "content_encoding"
        ),
        "extracted_text",
        "content_type",
        "success",
        "doc_class",
    )


# simple dialect-portable patterns (identical semantics in Java regex
# and DuckDB's RE2 for this character-class-only subset)
PII_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
PII_PHONE_RE = r"555-[0-9]{4}"


def q48_pii_scrub_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every web-scale training
    corpus runs before the tokenizer. Deterministic synthetic PII
    (an email + a phone derived from doc_id) is injected into each
    document, counted, and masked with JVM-side regexp_replace; the
    oracle rebuilds and scrubs the same text in SQL. All column work
    stays in whole-stage codegen — no Python in the loop."""
    docs = documents(spark, sf_dir)
    pii_text = F.format_string(
        "%s contact u%s@mail.example.org or 555-%s now",
        F.col("text"),
        F.col("doc_id").cast("string"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(pii_text, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(pii_text, F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(pii_text, F.lit(PII_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
    )


def q44_audio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAV probe under an oracle: deterministic RIFF/WAVE payloads
    built from doc_id (sample rate / channels / frame count closed-
    form; PCM an LCG-ramp waveform s(j) = ((doc_id*31 + 17*j) % 512)
    - 256 over interleaved value index j), parsed back by
    extract_audio_features — a REAL byte-level RIFF walk + int16
    decode — and compared to the closed form in SQL, including the
    integer-exact spectral columns (energy, zero crossings, Goertzel
    band magnitudes at w = 0, pi/2, pi; multimodal._spectral_features).
    duration_s stays out of the compared set: it is a Python-side
    round() whose half-case behavior is not bit-pinned against
    DuckDB's (the integer fields derive it anyway)."""
    import struct

    from ocr_service_spark.operators.multimodal import extract_audio_features

    docs = documents(spark, sf_dir, "doc_id")

    def wav_page(doc_id):
        i = int(doc_id)
        sr = 8000 + (i % 5) * 1000
        ch = 1 + i % 2
        n = 100 + i % 50
        data = struct.pack(
            f"<{n * ch}h",
            *(((i * 31 + 17 * j) % 512) - 256 for j in range(n * ch)),
        )
        fmt = (
            b"fmt "
            + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, ch, sr, sr * ch * 2, ch * 2, 16)
        )
        wav = (
            b"RIFF"
            + struct.pack("<I", 4 + len(fmt) + 8 + len(data))
            + b"WAVE"
            + fmt
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )
        return [(f"doc://{i}.wav", wav)]

    pages = map_rows(docs, wav_page, "url string, html binary")
    feats = extract_audio_features(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return feats.select(
        doc_id.alias("doc_id"), "media_type", "sample_rate", "channels", "bits",
        "n_samples", "energy", "zero_crossings", "band_dc", "band_quarter",
        "band_nyquist",
    )


WARC_SHARD_DOCS = 25


def _warc_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One WARC blob (gzip member per record) per shard of
    WARC_SHARD_DOCS docs: a warcinfo record then one HTTP response per
    doc. Every ingest rung appears closed-form: 404s (doc_id%17==0),
    text/plain bodies (%9==0), HTTP-level Content-Encoding: gzip
    (%4==0, the reader must inflate). applyInPandas builds each shard
    in one task — the writer twin of the per-file reader."""
    import gzip as _gzip

    import pandas as pd

    # fan out BY SHARD: each shard's WARC blob (the expensive part)
    # builds in its own task and groupBy("shard") reuses the partitioning
    docs = fan_out(
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("shard", F.expr(f"doc_id div {WARC_SHARD_DOCS}")),
        "shard",
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from ocr_service_spark.extraction.warc import build_warc

        shard = int(pdf["shard"].iloc[0])
        records = [
            {
                "warc_type": "warcinfo",
                "url": "",
                "ts": "2026-03-01T00:00:00Z",
                "block": b"software: graft\r\n",
            }
        ]
        for d in sorted(int(x) for x in pdf["doc_id"]):
            plain = d % 9 == 0
            body_text = (
                f"warc doc {d} body"
                if plain
                else f"<html><body>warc doc {d} body</body></html>"
            )
            body = body_text.encode()
            headers = {
                "Content-Type": "text/plain; charset=utf-8"
                if plain
                else "text/html; charset=utf-8"
            }
            if d % 4 == 0:
                body = _gzip.compress(body, mtime=0)
                headers["Content-Encoding"] = "gzip"
            records.append(
                {
                    "warc_type": "response",
                    "url": f"https://warc{d % 6}.example.com/doc/{d}",
                    "ts": "2026-03-01T00:00:00Z",
                    "status": 404 if d % 17 == 0 else 200,
                    "body": body,
                    "http_headers": headers,
                }
            )
        return pd.DataFrame([{"shard": shard, "data": build_warc(records)}])

    return docs.groupBy("shard").applyInPandas(build, "shard long, data binary")


def q74_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest roundtrip: shards built record-per-gzip-member are
    read back by sources/warc.read_warc — member splitting, WARC
    header parse, HTTP response extraction and Content-Encoding
    inflation all on the real path; the oracle rebuilds every
    expected record closed-form without touching the parser."""
    from ocr_service_spark.sources.warc import read_warc

    records = read_warc(_warc_shards(spark, sf_dir), id_cols=("shard",))
    doc_id = F.nullif(
        F.regexp_extract("url", r"/doc/(\d+)$", 1), F.lit("")
    ).cast("bigint")
    return records.select(
        "shard",
        "warc_type",
        doc_id.alias("doc_id"),
        F.nullif(F.col("url"), F.lit("")).alias("url"),
        "status",
        "content_type",
        F.when(
            F.col("payload").isNotNull(), F.decode(F.col("payload"), "UTF-8")
        ).alias("body_text"),
    )


def q76_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete crawl-to-text path in one job: WARC shards ->
    gzip-member split -> WARC/HTTP parse -> Content-Encoding inflate
    -> fetch-status filter -> the REAL extraction pipeline (classify
    -> route -> extract -> finalize). This is the Common Crawl
    production shape end-to-end: only 2xx responses reach extraction
    (crawlers drop error pages before processing), and nothing
    shuffles between the per-file WARC parse and the per-doc extract —
    both run inside the same scan-side mapInPandas stage chain."""
    from ocr_service_spark.sources.warc import read_warc

    records = read_warc(_warc_shards(spark, sf_dir), id_cols=("shard",))
    fetched = records.filter(
        (F.col("warc_type") == "response") & (F.col("status") == 200)
    )
    pages = fetched.select("url", F.col("payload").alias("html"))
    results = extract_documents(pages)
    doc_id = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
    return results.select(
        doc_id.alias("doc_id"),
        "extracted_text",
        "content_type",
        "doc_class",
        "success",
    )


# -- q88: mojibake (UTF-8-as-cp1252 double encoding) repair -------------------
# Rung table: doc_id%4 -> (phrase, mojibake depth). Phrases stay inside
# the cp1252-repairable subset (no UTF-8 byte 0x81/8D/8F/90/9D). Rung 3
# is clean ASCII — the repair must be a provable no-op.
MOJI_RUNGS: tuple[tuple[str, int], ...] = (
    ("café résumé", 1),
    ("über naïve", 2),  # double mojibake: needs both iterations
    ("‘quoted’ €9", 1),
)


def q88_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style mojibake repair through the real charset utility
    (extraction/charset.repair_mojibake): each doc gets a phrase
    corrupted by 1 or 2 rounds of UTF-8-bytes-read-as-cp1252 appended
    (rung 3: nothing), and the repair must return exactly the clean
    phrase with the rung's iteration count — strict-UTF-8 gating means
    legitimate text is never touched. One per-row ``map_rows`` stage,
    shuffle-free: at 100 TB this is a scan-side column repair."""
    from ocr_service_spark.extraction.charset import mojibake, repair_mojibake

    docs = documents(spark, sf_dir, "doc_id", "text")

    def repair(doc_id, text):
        i = int(doc_id) % 4
        if i == 3:
            corrupted = text
        else:
            phrase, depth = MOJI_RUNGS[i]
            corrupted = text + " " + mojibake(phrase, depth)
        return [(int(doc_id), *repair_mojibake(corrupted))]

    return map_rows(docs, repair, "doc_id bigint, repaired_text string, n_repairs bigint")


# -- q87: CDX index ingest (fetch-list construction from the URL index) ------
def _cdx_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ fixture lines derived closed-form from documents: one
    late capture per doc, an extra EARLY capture for doc_id%5==0
    (latest-wins rung), shared digests for doc_id%7==0 (digest-dedup
    rung), 404s (%17), redirects (%13), text/plain (%9), plus a
    malformed junk line per doc_id%19==0 that the parser must drop.
    Line assembly is a pure projection — the writer twin of
    sources/cdx.parse_cdx."""
    docs = documents(spark, sf_dir)
    d = F.col("doc_id")
    urlkey = F.format_string("com,example,cdx%d)/doc/%d", d % 6, d)
    url = F.format_string("https://cdx%d.example.com/doc/%d", d % 6, d)
    mime = F.when(d % 9 == 0, "text/plain").otherwise("text/html")
    status = (
        F.when(d % 17 == 0, "404").when(d % 13 == 0, "301").otherwise("200")
    )
    digest = F.when(d % 7 == 0, F.format_string("dup%d", d % 3)).otherwise(
        F.md5(F.col("text"))
    )
    ts_late = F.format_string("20260302%06d", d % 240000)
    ts_early = F.format_string("20260101%06d", d % 240000)
    captures = F.when(d % 5 == 0, F.array(ts_early, ts_late)).otherwise(
        F.array(ts_late)
    )
    line = F.format_string(
        '%s %s {"url": "%s", "mime": "%s", "status": "%s", "digest": "%s",'
        ' "length": "%d", "offset": "%d", "filename": "crawl-%05d.warc.gz"}',
        urlkey,
        F.col("ts"),
        url,
        mime,
        status,
        digest,
        F.lit(500) + d % 100,
        d * 1000,
        d % 4,
    )
    good = docs.select(d.alias("doc_id"), "text", F.explode(captures).alias("ts")).select(
        line.alias("line")
    )
    junk = docs.filter(d % 19 == 0).select(
        F.format_string("stray-noise-%d not a cdx line", d).alias("line")
    )
    return good.unionAll(junk)


def q87_cdx_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-list construction from the Common-Crawl URL index: parse
    CDXJ lines (sources/cdx.py — anchored-regex split + from_json,
    codegen-only), keep 200-status text/html captures, elect the
    LATEST capture per urlkey (one max-struct agg), then dedup by
    content digest electing the smallest urlkey as canonical — the
    index-side dedup a real pipeline runs BEFORE touching WARC bytes.
    Both aggs are plain hash shuffles on bounded keys; nothing here
    scales with payload size, only with index rows."""
    from ocr_service_spark.sources.cdx import parse_cdx

    recs = parse_cdx(_cdx_lines(spark, sf_dir))
    ok = recs.filter((F.col("status") == 200) & (F.col("mime") == "text/html"))
    latest = (
        ok.groupBy("urlkey")
        .agg(
            F.max(F.struct(F.col("cdx_ts"), F.col("digest"))).alias("m"),
            F.count(F.lit(1)).alias("n_captures"),
        )
        .select(
            "urlkey",
            F.col("m.cdx_ts").alias("latest_ts"),
            F.col("m.digest").alias("digest"),
            "n_captures",
        )
    )
    canon = latest.groupBy("digest").agg(
        F.min("urlkey").alias("canonical_urlkey"),
        F.count(F.lit(1)).alias("n_urls_with_digest"),
    )
    return latest.join(canon, "digest").select(
        "urlkey",
        "latest_ts",
        "digest",
        "n_captures",
        "canonical_urlkey",
        "n_urls_with_digest",
        (F.col("urlkey") == F.col("canonical_urlkey")).alias("is_canonical"),
    )


# q62's CASE arms are generated from the same rung table the Spark
# side encodes with — one source of truth for phrases and labels
_CS_CHARSET_CASE = " ".join(
    f"WHEN {r} THEN '{label}'" for r, label in enumerate(CS_EXPECTED_LABELS)
)
_CS_PHRASE_CASE = " ".join(
    f"WHEN {r} THEN '{CS_RUNGS[r][3]}'" for r in range(len(CS_RUNGS))
)

# -- q133: EPUB roundtrip through the real pipeline ---------------------------
def q133_epub_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB book extraction under an oracle: each doc becomes a real
    ZIP/OCF book (built with the stdlib writer in the generation UDF)
    with three XHTML chapters whose ZIP ORDER is c0,c1,c2 but whose
    SPINE order is c2,c0,c1 — so the extracted text proves the reader
    walks the spine, not the archive — plus a cover page and a
    stylesheet in the manifest but NOT in the spine (must not leak),
    an entity-escaped dc:title, and (doc_id%8==5) a book with no
    container.xml that must degrade to the normal no-text failure row.
    Runs through the REAL dispatch (sniff -> classify epub ->
    extraction/epub_text.py); the oracle rebuilds text, title, pages
    and the success rule closed-form."""
    import io as _io
    import zipfile as _zipfile

    docs = documents(spark, sf_dir, "doc_id")

    def book(doc_id):
        i = int(doc_id)
        buf = _io.BytesIO()
        with _zipfile.ZipFile(buf, "w", _zipfile.ZIP_DEFLATED) as z:
            # OCF conformance: mimetype FIRST and STORED (what
            # every epub toolchain writes; the sniffer's cheap
            # prefix probe keys on exactly this)
            z.writestr(
                "mimetype", "application/epub+zip",
                compress_type=_zipfile.ZIP_STORED,
            )
            if i % 8 != 5:
                z.writestr(
                    "META-INF/container.xml",
                    '<?xml version="1.0"?><container><rootfiles>'
                    '<rootfile full-path="OEBPS/content.opf" '
                    'media-type="application/oebps-package+xml"/>'
                    "</rootfiles></container>",
                )
            items = "".join(
                f'<item id="c{j}" href="ch{j}.xhtml" '
                'media-type="application/xhtml+xml"/>'
                for j in range(3)
            )
            z.writestr(
                "OEBPS/content.opf",
                '<?xml version="1.0"?><package><metadata>'
                f"<dc:title>Book {i} &amp; co</dc:title></metadata>"
                f"<manifest>{items}"
                '<item id="css" href="style.css" media-type="text/css"/>'
                '<item id="cover" href="cover.xhtml" '
                'media-type="application/xhtml+xml"/></manifest>'
                '<spine><itemref idref="c2"/><itemref idref="c0"/>'
                '<itemref idref="c1"/></spine></package>',
            )
            for j in range(3):
                z.writestr(
                    f"OEBPS/ch{j}.xhtml",
                    '<?xml version="1.0"?>'
                    '<html xmlns="http://www.w3.org/1999/xhtml">'
                    f"<body><p>Chapter {j} of book {i}.</p></body></html>",
                )
            z.writestr(
                "OEBPS/cover.xhtml",
                "<html><body><p>COVER MUST NOT APPEAR</p></body></html>",
            )
            z.writestr("OEBPS/style.css", "p{}")
        return [(f"doc://{i}.epub", buf.getvalue())]

    pages = map_rows(docs, book, "url string, html binary")
    results = extract_documents(pages)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return results.select(
        doc_id.alias("doc_id"),
        "extracted_text",
        F.col("metadata")["epub_title"].alias("epub_title"),
        "content_type",
        "pages",
        "success",
        "doc_class",
    )


_Q133_ORACLE = """
    SELECT doc_id,
           CASE WHEN doc_id % 8 = 5 THEN ''
                ELSE 'Chapter 2 of book ' || ds || '.' || nl || nl
                  || 'Chapter 0 of book ' || ds || '.' || nl || nl
                  || 'Chapter 1 of book ' || ds || '.' END AS extracted_text,
           CASE WHEN doc_id % 8 = 5 THEN NULL
                ELSE 'Book ' || ds || ' & co' END AS epub_title,
           'application/epub+zip' AS content_type,
           CASE WHEN doc_id % 8 = 5 THEN 0 ELSE 3 END AS pages,
           doc_id % 8 <> 5 AS success,
           'epub' AS doc_class
    FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds, chr(10) AS nl
          FROM documents)
"""


ORACLES: dict[str, str] = {
    "q133_epub_roundtrip": _Q133_ORACLE,
    # charset ladder: the phrase a rung injects only survives the decode
    # that rung's sniff selects (see q62 docstring)
    "q62_charset_roundtrip": f"""
        SELECT doc_id,
               CASE CAST(doc_id % 6 AS INT) {_CS_CHARSET_CASE} END AS charset,
               't' || chr(10)
                   || CASE CAST(doc_id % 6 AS INT) {_CS_PHRASE_CASE} END
                   || ' ' || trim(text) AS extracted_text,
               'text/html' AS content_type, 1 AS pages, TRUE AS success,
               'html' AS doc_class
        FROM documents
    """,
    # html: T1 joins title-text and body-text nodes with "\n"
    "q30_extract_html_roundtrip": """
        SELECT doc_id, 't' || chr(10) || trim(text) AS extracted_text,
               'text/html' AS content_type, 1 AS pages, TRUE AS success,
               'html' AS doc_class
        FROM documents
    """,
    # transfer-encoding: every rung decodes to the same inner HTML
    "q66_gzip_roundtrip": """
        SELECT doc_id,
               CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'gzip'
                    WHEN 1 THEN 'deflate' WHEN 2 THEN 'gzip,gzip'
                    ELSE 'none' END AS content_encoding,
               't' || chr(10) || trim(text) AS extracted_text,
               'text/html' AS content_type, TRUE AS success,
               'html' AS doc_class
        FROM documents
    """,
    # rtf: body text, trailing \par newline stripped by finalize
    "q31_extract_rtf_roundtrip": """
        SELECT doc_id, trim(text) AS extracted_text,
               'text/plain' AS content_type, 1 AS pages, TRUE AS success,
               'rtf' AS doc_class
        FROM documents
    """,
    # xml: element text then attribute value, space-joined (C6 semantics)
    "q32_extract_xml_roundtrip": """
        SELECT doc_id, trim(text) || ' synthetic' AS extracted_text,
               'text/xml' AS content_type, 1 AS pages, TRUE AS success,
               'xml' AS doc_class
        FROM documents
    """,
    # payload ladder: rung semantics per doc_id % 5 (see q33 docstring);
    # rung 1 is the null-payload skip (empty text allowed -> success)
    "q33_payload_ladder_roundtrip": """
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 1 THEN ''
                    WHEN doc_id % 5 = 4 THEN trim('raw: ' || text)
                    ELSE trim(text) END AS extracted_text,
               CASE WHEN doc_id % 5 = 1 THEN TRUE
                    WHEN doc_id % 5 = 4 THEN len(trim('raw: ' || text)) > 0
                    ELSE len(trim(text)) > 0 END AS success,
               doc_id % 5 = 1 AS ocr_skipped,
               CASE WHEN doc_id % 5 IN (0, 1, 2) THEN lang END AS footer_src
        FROM documents
    """,
    "q48_pii_scrub_roundtrip": f"""
        WITH pii AS (
            SELECT doc_id,
                   text || ' contact u' || doc_id || '@mail.example.org or 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PII_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5,
               CAST(length(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PII_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len
        FROM pii
    """,
    # the spectral CTEs mirror multimodal._spectral_features exactly:
    # per-frame mono = channel SUM; Goertzel bins at w=0, pi/2, pi have
    # integer cos/sin, so every aggregate is BIGINT-exact cross-engine
    "q44_audio_roundtrip": """
        WITH d AS (
            SELECT doc_id,
                   1 + doc_id % 2 AS ch,
                   100 + doc_id % 50 AS n
            FROM documents
        ),
        vals AS (
            SELECT doc_id, ch, n, unnest(range(n * ch)) AS j
            FROM d
        ),
        mono AS (
            SELECT doc_id, j // ch AS fr,
                   SUM(((doc_id * 31 + 17 * j) % 512) - 256) AS v
            FROM vals GROUP BY doc_id, ch, j // ch
        ),
        feat AS (
            SELECT doc_id,
                   SUM(v * v) AS energy,
                   SUM(CASE WHEN prev IS NOT NULL
                            AND (prev < 0) <> (v < 0) THEN 1 ELSE 0 END) AS zc,
                   SUM(v) AS dc,
                   SUM(CASE WHEN fr % 2 = 0 THEN v ELSE -v END) AS nyq,
                   SUM(CASE fr % 4 WHEN 0 THEN v WHEN 2 THEN -v ELSE 0 END) AS q_re,
                   SUM(CASE fr % 4 WHEN 1 THEN -v WHEN 3 THEN v ELSE 0 END) AS q_im
            FROM (SELECT doc_id, fr, v,
                         lag(v) OVER (PARTITION BY doc_id ORDER BY fr) AS prev
                  FROM mono)
            GROUP BY doc_id
        )
        SELECT d.doc_id, 'audio/wav' AS media_type,
               CAST(8000 + (d.doc_id % 5) * 1000 AS INT) AS sample_rate,
               CAST(d.ch AS INT) AS channels,
               CAST(16 AS INT) AS bits,
               CAST(d.n AS BIGINT) AS n_samples,
               CAST(f.energy AS BIGINT) AS energy,
               CAST(f.zc AS BIGINT) AS zero_crossings,
               CAST(f.dc * f.dc AS BIGINT) AS band_dc,
               CAST(f.q_re * f.q_re + f.q_im * f.q_im AS BIGINT) AS band_quarter,
               CAST(f.nyq * f.nyq AS BIGINT) AS band_nyquist
        FROM d JOIN feat f USING (doc_id)
    """,
}

ORACLES["q74_warc_ingest"] = f"""
    SELECT CAST(doc_id // {WARC_SHARD_DOCS} AS BIGINT) AS shard,
           'response' AS warc_type,
           doc_id,
           'https://warc' || (doc_id % 6) || '.example.com/doc/' || doc_id
               AS url,
           CAST(CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS INT)
               AS status,
           CASE WHEN doc_id % 9 = 0 THEN 'text/plain' ELSE 'text/html' END
               AS content_type,
           CASE WHEN doc_id % 9 = 0 THEN 'warc doc ' || doc_id || ' body'
                ELSE '<html><body>warc doc ' || doc_id || ' body</body></html>'
                END AS body_text
    FROM documents
    UNION ALL
    SELECT DISTINCT CAST(doc_id // {WARC_SHARD_DOCS} AS BIGINT), 'warcinfo',
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS INT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM documents
"""

# Every 200-status record (404 rung d%17==0 dropped by the fetch
# filter) extracts to the same closed-form body text whether it
# travelled the html or text/plain rung — and the HTTP-gzip rung
# (d%4==0) must land identical, proving the inflate happened.
ORACLES["q76_warc_extract"] = """
    SELECT doc_id,
           'warc doc ' || doc_id || ' body' AS extracted_text,
           CASE WHEN doc_id % 9 = 0 THEN 'text/plain' ELSE 'text/html' END
               AS content_type,
           CASE WHEN doc_id % 9 = 0 THEN 'plain' ELSE 'html' END AS doc_class,
           TRUE AS success
    FROM documents
    WHERE doc_id % 17 <> 0
"""

# Every derivation in _cdx_lines is closed-form from documents, so the
# oracle rebuilds the fetch list without touching the parser: the junk
# lines simply never appear (the parser must drop them), the early
# capture loses the max(ts) election, non-(200, text/html) rows fall to
# the filter, and digest groups elect min(urlkey).
ORACLES["q87_cdx_ingest"] = """
    WITH caps AS (
        SELECT printf('com,example,cdx%d)/doc/%d', doc_id % 6, doc_id)
                   AS urlkey,
               CASE WHEN doc_id % 9 = 0 THEN 'text/plain'
                    ELSE 'text/html' END AS mime,
               CASE WHEN doc_id % 17 = 0 THEN 404
                    WHEN doc_id % 13 = 0 THEN 301 ELSE 200 END AS status,
               CASE WHEN doc_id % 7 = 0 THEN printf('dup%d', doc_id % 3)
                    ELSE md5(text) END AS digest,
               unnest(CASE WHEN doc_id % 5 = 0
                      THEN [printf('20260101%06d', doc_id % 240000),
                            printf('20260302%06d', doc_id % 240000)]
                      ELSE [printf('20260302%06d', doc_id % 240000)]
                      END) AS ts
        FROM documents
    ),
    ok AS (SELECT * FROM caps WHERE status = 200 AND mime = 'text/html'),
    latest AS (
        SELECT urlkey, max(ts) AS latest_ts, any_value(digest) AS digest,
               count(*) AS n_captures
        FROM ok GROUP BY urlkey
    ),
    canon AS (
        SELECT digest, min(urlkey) AS canonical_urlkey,
               count(*) AS n_urls_with_digest
        FROM latest GROUP BY digest
    )
    SELECT l.urlkey, l.latest_ts, l.digest, l.n_captures,
           c.canonical_urlkey,
           CAST(c.n_urls_with_digest AS BIGINT) AS n_urls_with_digest,
           l.urlkey = c.canonical_urlkey AS is_canonical
    FROM latest l JOIN canon c USING (digest)
"""

# q88: the oracle never constructs mojibake — the expected output is
# the CLEAN phrase (rung table shared with the Spark side), so a
# repair that fails or overshoots diverges immediately
_MOJI_PHRASE_CASE = " ".join(
    f"WHEN {i} THEN text || ' {p}'" for i, (p, _d) in enumerate(MOJI_RUNGS)
)
_MOJI_DEPTH_CASE = " ".join(
    f"WHEN {i} THEN {d}" for i, (_p, d) in enumerate(MOJI_RUNGS)
)
ORACLES["q88_mojibake_repair"] = f"""
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT) {_MOJI_PHRASE_CASE}
                ELSE text END AS repaired_text,
           CAST(CASE CAST(doc_id % 4 AS INT) {_MOJI_DEPTH_CASE}
                ELSE 0 END AS BIGINT) AS n_repairs
    FROM documents
"""

# -- q117: WET export (WARC conversion records) round trip --------------------
WET_TS = "2026-03-01T00:00:00Z"


def q117_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl WET shape end-to-end: WARC shards -> parse ->
    2xx filter -> REAL extraction -> per-shard WET files (one
    `WARC-Type: conversion` record per extracted page, plus a
    warcinfo lead record) written with the repo's own WARC writer ->
    read BACK through the real parser. Output is one row per WET
    record with the decoded text and its octet length, so the oracle
    (which rebuilds the expected conversion text closed-form, the q76
    derivation) proves the write->parse round trip lost nothing.

    Scale shape: parse -> extract stays zero-shuffle inside the scan
    stage (the q76 chain); the ONE shuffle is the per-shard regroup
    that assembles each WET file — exactly the sharding a production
    WET job performs (WET files mirror their WARC file boundaries).
    The read-back is a second map-only pass over the built blobs."""
    import pandas as pd

    from ocr_service_spark.sources.warc import read_warc

    records = read_warc(_warc_shards(spark, sf_dir), id_cols=("shard",))
    fetched = records.filter(
        (F.col("warc_type") == "response") & (F.col("status") == 200)
    )
    pages = fetched.select("url", F.col("payload").alias("html"))
    results = extract_documents(pages).filter(F.col("success"))
    doc_id = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
    # fan out by shard, as _warc_shards does for the WARC build
    conv = fan_out(
        results.select(doc_id.alias("doc_id"), "url", "extracted_text")
        .withColumn("shard", F.expr(f"doc_id DIV {WARC_SHARD_DOCS}")),
        "shard",
    )

    def build_wet(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from ocr_service_spark.extraction.warc import build_warc

        shard = int(pdf["shard"].iloc[0])
        recs = [
            {
                "warc_type": "warcinfo",
                "url": "",
                "ts": WET_TS,
                "block": b"software: graft-wet\r\n",
                "content_type": "application/warc-fields",
            }
        ]
        for row in pdf.sort_values("doc_id").itertuples(index=False):
            recs.append(
                {
                    "warc_type": "conversion",
                    "url": row.url,
                    "ts": WET_TS,
                    "block": (row.extracted_text or "").encode("utf-8"),
                    "content_type": "text/plain",
                }
            )
        return pd.DataFrame([{"shard": shard, "data": build_warc(recs)}])

    wet = conv.groupBy("shard").applyInPandas(build_wet, "shard long, data binary")
    back = read_warc(wet, id_cols=("shard",))
    out_doc_id = F.nullif(
        F.regexp_extract(F.coalesce("url", F.lit("")), r"/doc/(\d+)$", 1),
        F.lit(""),
    ).cast("bigint")
    return back.select(
        "shard",
        "warc_type",
        out_doc_id.alias("doc_id"),
        "content_type",
        F.when(
            F.col("payload").isNotNull(), F.decode(F.col("payload"), "UTF-8")
        ).alias("wet_text"),
        F.octet_length("payload").cast("bigint").alias("content_length"),
    )


# Closed-form mirror: conversion rows are the q76 derivation (2xx docs
# with extracted text 'warc doc N body'); one warcinfo row per shard.
ORACLES["q117_wet_export"] = f"""
    WITH conv AS (
        SELECT CAST(doc_id // {WARC_SHARD_DOCS} AS BIGINT) AS shard,
               doc_id,
               'warc doc ' || doc_id || ' body' AS wet_text
        FROM documents
        WHERE doc_id % 17 <> 0
    )
    SELECT shard, 'conversion' AS warc_type, doc_id,
           'text/plain' AS content_type, wet_text,
           CAST(strlen(wet_text) AS BIGINT) AS content_length
    FROM conv
    UNION ALL
    SELECT DISTINCT shard, 'warcinfo', CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT)
    FROM conv
"""


QUERIES = {
    "q30_extract_html_roundtrip": q30_extract_html_roundtrip,
    "q76_warc_extract": q76_warc_extract,
    "q62_charset_roundtrip": q62_charset_roundtrip,
    "q66_gzip_roundtrip": q66_gzip_roundtrip,
    "q44_audio_roundtrip": q44_audio_roundtrip,
    "q48_pii_scrub_roundtrip": q48_pii_scrub_roundtrip,
    "q74_warc_ingest": q74_warc_ingest,
    "q117_wet_export": q117_wet_export,
    "q87_cdx_ingest": q87_cdx_ingest,
    "q88_mojibake_repair": q88_mojibake_repair,
    "q31_extract_rtf_roundtrip": q31_extract_rtf_roundtrip,
    "q32_extract_xml_roundtrip": q32_extract_xml_roundtrip,
    "q33_payload_ladder_roundtrip": q33_payload_ladder_roundtrip,
    "q133_epub_roundtrip": q133_epub_roundtrip,
}
