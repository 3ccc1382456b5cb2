"""Pages-table sources: schema, readers, payload ladder, deterministic
synthetic generator, the reference-fixture loader, and the one home of
the reference checkout's location (``REFERENCE_DOCS``) and of the
synthetic document writers (PDF, DOCX, CFB).

Input shape is authoritative from BASELINE.json ``input_hint``:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

``html`` carries the raw payload bytes of *any* format (the name
follows the Common-Crawl column, not the content type) — it plays the
role of the reference's per-request ``ProcessContext.stream``.
"""

from __future__ import annotations

import datetime as dt
import struct
from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# what read_pages reads: the input contract plus the optional envelope
# footer that extraction echoes (a new StructType: ``StructType.add``
# would extend PAGES_SCHEMA in place)
_READ_SCHEMA = StructType(
    [*PAGES_SCHEMA.fields, StructField("footer", MapType(StringType(), StringType()), True)]
)

REFERENCE_DOCS = Path("/root/reference/ocr_service/tests/resources/docs")

# ground truth for the rendered OCR fixture in load_fixture_pages
GLYPH_FIXTURE_TEXT = "SCANNED PAGE 1\nPATIENT ID: 12345\nFINDINGS: NORMAL"


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Parquet reader for a pages table (Iceberg catalogs plug in the
    same way via ``spark.read.format("iceberg").load`` when a catalog
    is configured; parquet is the sandbox stand-in).

    The schema is declared, so the read starts no job to infer it from
    the files. It reads ``PAGES_SCHEMA`` plus a nullable ``footer``
    map: a table without one reads ``footer`` as null, which extraction
    treats as no footer, and any column outside these (e.g. bench.py's
    ``payload_bytes``) is not read."""
    return spark.read.schema(_READ_SCHEMA).parquet(path)


def decode_payload_ladder(df: DataFrame, src_col: str = "body") -> DataFrame:
    """The reference's ingest ladder (api/process.py:49-103) as pure
    Column expressions over a string payload column:

        JSON envelope {binary_data, footer}
            -> base64-decode binary_data, utf-8 bytes on decode failure,
               NULL (skip) when binary_data is null
        non-JSON body
            -> whole-body base64, else raw utf-8 bytes

    Declarative (from_json / try_to_binary / coalesce) so Catalyst keeps
    it JVM-side — no Python in the ingest path.
    """
    src = F.col(src_col)
    # from_json with a StructType never returns NULL for malformed input
    # (PERMISSIVE yields a null-field row), so JSON validity is probed
    # with map/array schemas, which DO null out on malformed input.
    obj_map = F.from_json(src, "map<string,string>")
    arr_first = F.element_at(F.from_json(src, "array<map<string,string>>"), 1)
    env_map = F.coalesce(obj_map, arr_first)  # reference takes record[0] for arrays
    env_struct = F.from_json(src, "binary_data string, footer map<string,string>")
    # array envelopes: the reference takes record[0]'s footer too
    # (utils/utils.py:154-197); the flat struct probe nulls out on arrays
    env_struct_arr = F.element_at(
        F.from_json(src, "array<struct<binary_data:string, footer:map<string,string>>>"), 1
    )

    # Spark's base64 decode is lenient; the reference uses strict
    # validation (base64.b64decode(..., validate=True), api/process.py:85),
    # so gate the decode on a strict-alphabet + padding regex.
    strict_b64 = r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"

    def b64_or_utf8(col):
        return F.when(
            col.rlike(strict_b64) & (F.length(col) % 4 == 0),
            F.try_to_binary(col, F.lit("base64")),
        ).otherwise(F.encode(col, "utf-8"))

    binary_data = env_map["binary_data"]
    from_envelope = F.when(binary_data.isNotNull(), b64_or_utf8(binary_data)).otherwise(
        F.lit(None).cast(BinaryType())
    )
    from_raw = b64_or_utf8(src)
    payload = F.when(env_map.isNotNull(), from_envelope).otherwise(from_raw)
    footer = F.when(
        env_map.isNotNull(),
        F.coalesce(env_struct["footer"], env_struct_arr["footer"]),
    ).otherwise(F.lit(None))
    return df.withColumn("html", payload).withColumn("footer", footer)


def load_fixture_pages(spark: SparkSession) -> DataFrame:
    """Reference fixture payloads as a pages DataFrame (tests/E2E).
    Raises ``FileNotFoundError`` when ``REFERENCE_DOCS`` is absent."""
    if not REFERENCE_DOCS.is_dir():
        raise FileNotFoundError(f"reference test documents not found: {REFERENCE_DOCS}")
    rows = []
    base_ts = dt.datetime(2026, 7, 23, 0, 0, 0)
    for i, path in enumerate(sorted(REFERENCE_DOCS.rglob("*"))):
        if not path.is_file():
            continue
        rows.append(
            (
                f"https://fixtures.test/{path.parent.name}/{path.name}",
                base_ts + dt.timedelta(seconds=i),
                bytearray(path.read_bytes()),
                None,
                "en",
            )
        )
    rows.append(("https://fixtures.test/null-payload", base_ts, None, None, "en"))
    rows.append(("https://fixtures.test/empty-payload", base_ts, bytearray(b""), None, "en"))
    # in-model OCR fixture: a page rendered in the glyph engine's own
    # font (deterministic bytes, rendered at load time). NO_OCR skips it
    # like any image; OCR mode must read it back exactly at conf 100.
    from ocr_service_spark.extraction.glyph_ocr import render_text_png

    rows.append(
        (
            "https://fixtures.test/rendered/glyph_page.png",
            base_ts,
            bytearray(render_text_png(GLYPH_FIXTURE_TEXT)),
            None,
            "en",
        )
    )
    return spark.createDataFrame(rows, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic synthetic generator (seeded, distributed, no driver data)
# ---------------------------------------------------------------------------

_WORDS = (
    "the quick brown fox jumps over lazy dog patient clinical record "
    "hospital treatment diagnosis review summary report finding value "
    "measure index crawl web page content extraction pipeline spark "
    "document text language corpus token paragraph section header body"
).split()

# class mix per 100 docs: mostly webtext HTML, a tail of every other
# route the engine supports (classes weighted per SURVEY.md §5 fixtures)
_MIX: list[tuple[str, int]] = [
    ("html", 70),
    ("plain", 8),
    ("rtf", 5),
    ("xml", 5),
    ("docx", 4),
    ("pdf", 3),
    ("png", 2),
    ("null", 1),
    ("binary", 1),
    ("encrypted", 1),
]
_MIX_TABLE: list[str] = [kind for kind, n in _MIX for _ in range(n)]


def _lcg(seed: int) -> Iterator[int]:
    state = (seed * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
    while True:
        state = (state * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        yield state >> 33


def _sentence(rng: Iterator[int], n_words: int) -> str:
    words = [_WORDS[next(rng) % len(_WORDS)] for _ in range(n_words)]
    return " ".join(words).capitalize() + "."


def _synth_html(rng: Iterator[int], paragraphs: int) -> bytes:
    parts = [
        "<!DOCTYPE html>\n<html>\n<head><title>",
        _sentence(rng, 4),
        "</title><style>p { margin: 2px; }</style></head>\n<body>\n",
    ]
    for _ in range(paragraphs):
        parts.append("<p>" + _sentence(rng, 8 + next(rng) % 25) + "</p>\n")
    parts.append("</body>\n</html>\n")
    return "".join(parts).encode("utf-8")


def _synth_plain(rng: Iterator[int], paragraphs: int) -> bytes:
    return "\n\n".join(_sentence(rng, 10 + next(rng) % 30) for _ in range(paragraphs)).encode()


def _synth_rtf(rng: Iterator[int], paragraphs: int) -> bytes:
    body = "\\par ".join(_sentence(rng, 8 + next(rng) % 20) for _ in range(paragraphs))
    return ("{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Arial;}}" + body + "}").encode()


def _synth_docx(rng: Iterator[int], paragraphs: int) -> bytes:
    """Minimal deterministic OOXML package: a real ZIP whose
    word/document.xml carries the text (the C7 extraction path)."""
    import zipfile
    from io import BytesIO

    body = "".join(
        f"<w:p><w:r><w:t>{_sentence(rng, 8 + next(rng) % 20)}</w:t></w:r></w:p>"
        for _ in range(paragraphs)
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{body}</w:body></w:document>"
    )
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in (
            ("[Content_Types].xml", "<Types/>"),
            ("word/document.xml", document),
        ):
            info = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
            zf.writestr(info, content)
    return buf.getvalue()


def _synth_xml(rng: Iterator[int], paragraphs: int) -> bytes:
    items = "".join(
        f"<item id=\"i{next(rng) % 997}\">{_sentence(rng, 6 + next(rng) % 12)}</item>"
        for _ in range(paragraphs)
    )
    return f"<?xml version=\"1.0\"?><doc>{items}</doc>".encode()


# ---------------------------------------------------------------------------
# Synthetic document writers (test fixtures, q103, the stand-in payloads)
# ---------------------------------------------------------------------------

HELVETICA = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def pdf_stream(content: bytes) -> bytes:
    return b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream"


def assemble_pdf(objs: list[bytes], trailer: str = "") -> bytes:
    """Uncompressed PDF with a classic xref table: ``objs[k]`` is object
    ``k + 1`` and object 1 the catalog; ``trailer`` is appended to the
    trailer dict after ``/Root`` (e.g. ``" /Info 9 0 R"``)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R{trailer} >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def write_text_pdf(
    pages: list[str | bytes],
    font: bytes = HELVETICA,
    extra_objs: tuple[bytes, ...] = (),
    info: str | None = None,
    trailer: str = "",
) -> bytes:
    """N-page PDF whose pages share one font ``/F1``, object ``3 + 2N``.

    A ``str`` page becomes one ``Tj`` of that text; a ``bytes`` page is
    the page's whole content stream. ``extra_objs`` follow the font as
    objects ``4 + 2N``, ...; ``info`` is the body of a trailer ``/Info``
    dict placed after them; ``trailer`` goes to ``assemble_pdf``."""
    n = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode(),
    ]
    for i, page in enumerate(pages):
        if isinstance(page, str):
            page = f"BT /F1 12 Tf 72 700 Td ({page}) Tj ET".encode()
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents {4 + 2 * i} 0 R "
            f"/Resources << /Font << /F1 {3 + 2 * n} 0 R >> >> >>".encode()
        )
        objs.append(pdf_stream(page))
    objs += [font, *extra_objs]
    if info is not None:
        objs.append(f"<< {info} >>".encode())
        trailer += f" /Info {len(objs)} 0 R"
    return assemble_pdf(objs, trailer)


def build_cfb(streams: dict[str, bytes]) -> bytes:
    """Minimal [MS-CFB] v3 writer: every stream padded to >= 4096 bytes
    (regular FAT chains only, no ministream), one FAT sector, one
    directory sector (<= 3 streams)."""
    SS = 512
    FREESECT, ENDOFCHAIN, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
    names = list(streams)
    assert len(names) <= 3
    padded = {n: s + b"\x00" * ((-len(s)) % SS) for n, s in streams.items()}
    for n in padded:
        if len(padded[n]) < 4096:
            padded[n] = padded[n] + b"\x00" * (4096 - len(padded[n]))
    # sector layout: 0 = FAT, 1 = directory, then stream chains
    fat = [FATSECT, ENDOFCHAIN]
    starts, sizes = {}, {}
    for n in names:
        data = padded[n]
        n_sec = len(data) // SS
        starts[n] = len(fat)
        sizes[n] = len(streams[n])
        for i in range(n_sec):
            fat.append(len(fat) + 1 if i < n_sec - 1 else ENDOFCHAIN)
    body = b"".join(padded[n] for n in names)
    fat += [FREESECT] * (SS // 4 - len(fat))
    fat_sector = struct.pack(f"<{SS // 4}I", *fat)

    def dirent(name, objtype, start, size, left, right, child):
        raw = name.encode("utf-16-le")
        ent = raw + b"\x00" * (64 - len(raw))
        ent += struct.pack("<HBB3I16sI", len(raw) + 2, objtype, 1, left, right, child,
                           b"\x00" * 16, 0)
        ent += b"\x00" * 16  # creation + modified timestamps: offsets 100-115
        ent = ent[:116] + struct.pack("<IQ", start, size)
        return ent.ljust(128, b"\x00")

    ents = [dirent("Root Entry", 5, ENDOFCHAIN, 0, FREESECT, FREESECT, 1)]
    for i, n in enumerate(names):
        right = i + 2 if i + 1 < len(names) else FREESECT
        ents.append(dirent(n, 2, starts[n], sizes[n], FREESECT, right, FREESECT))
    while len(ents) < 4:
        ents.append(b"\x00" * 128)
    directory = b"".join(ents)

    header = bytearray(512)
    header[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", header, 26, 0x003E)   # minor version
    struct.pack_into("<H", header, 28, 0x0003)   # v3
    struct.pack_into("<H", header, 30, 9)        # sector shift
    struct.pack_into("<H", header, 32, 6)        # mini shift
    struct.pack_into("<I", header, 44, 1)        # num FAT sectors
    struct.pack_into("<I", header, 48, 1)        # first dir sector
    # mini cutoff 0: every stream lives on regular FAT chains, so this
    # writer needs no ministream (the reader honors the header field)
    struct.pack_into("<I", header, 56, 0)
    struct.pack_into("<I", header, 60, ENDOFCHAIN)  # first minifat
    struct.pack_into("<I", header, 64, 0)
    struct.pack_into("<I", header, 68, ENDOFCHAIN)  # first difat
    struct.pack_into("<I", header, 72, 0)
    struct.pack_into("<109I", header, 76, 0, *([FREESECT] * 108))
    return bytes(header) + fat_sector + directory + body


# generate_pages' non-text payloads: kind -> file under REFERENCE_DOCS
_REFERENCE_PAYLOADS = {
    "docx": "generic/pat_id_1.docx",
    "docx_big": "generic/synthetic_medical_text_approx_20_pages.docx",
    "pdf": "generic/pat_id_1.pdf",
    "pdf_big": "pdf/ex1.pdf",
    "png": "generic/pat_id_1.png",
    "encrypted": "invalid/word_enc_noerror.docx",
}


def _fixture_payloads() -> dict[str, bytes]:
    """The reference's test documents when ``REFERENCE_DOCS`` exists,
    else stand-ins of the same kinds built from a fixed seed (the big
    PDF has 20 pages, more than the salted path's slices)."""
    if REFERENCE_DOCS.is_dir():
        return {k: (REFERENCE_DOCS / rel).read_bytes() for k, rel in _REFERENCE_PAYLOADS.items()}
    from ocr_service_spark.extraction.glyph_ocr import render_text_png

    rng = _lcg(0)
    noise = bytes(next(rng) % 256 for _ in range(256))
    return {
        "docx": _synth_docx(rng, 20),
        "docx_big": _synth_docx(rng, 600),
        "pdf": write_text_pdf([_sentence(rng, 40)]),
        "pdf_big": write_text_pdf([_sentence(rng, 80) for _ in range(20)]),
        "png": render_text_png(GLYPH_FIXTURE_TEXT),
        "encrypted": build_cfb(
            {"EncryptionInfo": b"\x04\x00\x04\x00" + noise, "EncryptedPackage": noise}
        ),
    }


def generate_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    skew_every: int = 1000,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic Common-Crawl-style pages table.

    Distributed generation: ``spark.range(n)`` -> mapInPandas building
    payload bytes purely from (seed, id); nothing is collected on the
    driver, so the generator itself scales with the cluster. Every
    ``skew_every``-th document embeds a large multi-page payload
    (mirrors the 20-page docx skew payload in FIXTURES.md) so the
    salted PDF path has real work in benchmarks.
    """
    bc = spark.sparkContext.broadcast(_fixture_payloads())
    base_ts = dt.datetime(2026, 1, 1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fixtures = bc.value
        for batch in batches:
            out: dict[str, list] = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
            for doc_id in batch["id"]:
                doc_id = int(doc_id)
                rng = _lcg(seed * 1_000_003 + doc_id)
                kind = _MIX_TABLE[next(rng) % 100]
                big = skew_every > 0 and doc_id % skew_every == 0
                # normal pages ~5-30 KB (Common-Crawl-realistic), skewed
                # pages several hundred KB
                paragraphs = (400 + next(rng) % 1200) if big else (10 + next(rng) % 55)
                payload: bytes | None
                ext = kind
                if kind == "html":
                    payload = _synth_html(rng, paragraphs)
                elif kind == "plain":
                    payload, ext = _synth_plain(rng, paragraphs), "txt"
                elif kind == "rtf":
                    payload = _synth_rtf(rng, paragraphs)
                elif kind == "xml":
                    payload = _synth_xml(rng, paragraphs)
                elif kind == "docx":
                    # alternate fixture payloads and synthetic OOXML so the
                    # zip-XML route sees varied content
                    if big:
                        payload = fixtures["docx_big"]
                    elif doc_id % 2:
                        payload = _synth_docx(rng, paragraphs)
                    else:
                        payload = fixtures["docx"]
                elif kind == "pdf":
                    payload = fixtures["pdf_big"] if big else fixtures["pdf"]
                elif kind == "png":
                    payload = fixtures["png"]
                elif kind == "encrypted":
                    payload = fixtures["encrypted"]
                elif kind == "null":
                    payload, ext = None, "bin"
                else:  # unknown binary
                    payload, ext = bytes([next(rng) % 256 for _ in range(64)]), "bin"
                out["url"].append(f"https://synth.test/{seed}/{doc_id}.{ext}")
                out["warc_ts"].append(base_ts + dt.timedelta(seconds=doc_id % 86400))
                out["html"].append(payload)
                out["text"].append(None)
                out["lang"].append("en")
            yield pd.DataFrame(out)

    partitions = partitions or max(spark.sparkContext.defaultParallelism * 2, 8)
    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )
