"""Seeded corpora for the benchmark workloads.

Every payload is a pure function of ``(seed, doc_id)``: the same seed
gives byte-identical corpora on any machine, and nothing is read from
outside the repository. The corpora reuse the engine's own writers:

- ``sources.pages._lcg`` and the ``_synth_*`` page synthesizers (HTML,
  plain text, RTF, XML, DOCX) with the ``_MIX`` format shares;
- ``glyph_ocr.render_text_png`` for page scans and small images;
- ``tests/cfb_builder.build_cfb`` for the encrypted-OOXML container;
- ``write_pdf`` below for text-layer PDFs.

``write_pdf`` is the single PDF writer that the repository's PDF
fixture code should collapse into (ROADMAP item 1); it is not meant
to stay a fifth hand-rolled copy next to ``__spark_entry__.py`` and the
three test modules.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_service_spark.extraction.glyph_ocr import render_text_png
from ocr_service_spark.plans.job import SALT_MIN_BYTES
from ocr_service_spark.sources.pages import (
    _MIX_TABLE,
    _lcg,
    _sentence,
    _synth_docx,
    _synth_html,
    _synth_plain,
    _synth_rtf,
    _synth_xml,
)

Doc = tuple[str, "bytes | None"]  # (url, payload)

# Giant PDFs land this far above the salting threshold (plus a seeded
# jitter of up to the same amount again).
GIANT_MARGIN = 0.02
PAGE_LINES = 60  # lines per giant-PDF page
OCR_PDF_PAGES = 12  # pages of each ocr_scan PDF


def _rng(seed: int, doc_id: int) -> Iterator[int]:
    return _lcg(seed * 1_000_003 + doc_id)


def _escape(text: str) -> str:
    return text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def write_pdf(pages: list[list[str]]) -> bytes:
    """Uncompressed text-layer PDF: one content stream per page, one
    ``Tj`` per line with ``T*`` line breaks, one shared Helvetica font,
    and a classic xref table."""
    n = len(pages)
    font_obj = 3 + 2 * n
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode(),
    ]
    for i, lines in enumerate(pages):
        shows = " T* ".join(f"({_escape(line)}) Tj" for line in lines)
        content = f"BT /F1 10 Tf 12 TL 72 750 Td {shows} ET".encode()
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {4 + 2 * i} 0 R "
                f"/Resources << /Font << /F1 {font_obj} 0 R >> >> >>"
            ).encode()
        )
        objs.append(
            b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream"
        )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

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
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def _page(rng: Iterator[int], n_lines: int) -> list[str]:
    return [_sentence(rng, 6 + next(rng) % 8) for _ in range(n_lines)]


def _encrypted_ooxml(rng: Iterator[int]) -> bytes:
    """OLE container carrying the two encrypted-OOXML streams (the
    classifier only reads the directory names)."""
    from tests.cfb_builder import build_cfb

    noise = bytes(next(rng) % 256 for _ in range(256))
    return build_cfb({"EncryptionInfo": b"\x04\x00\x04\x00" + noise, "EncryptedPackage": noise})


def _web_page(rng: Iterator[int]) -> bytes:
    # 35-214 paragraphs: 5-30 KB of HTML, the Common-Crawl page range
    return _synth_html(rng, 35 + next(rng) % 180)


def webmix_doc(seed: int, doc_id: int) -> Doc:
    """One document of the ``_MIX`` format mix; no payload comes near
    ``SALT_MIN_BYTES``."""
    rng = _rng(seed, doc_id)
    kind = _MIX_TABLE[next(rng) % 100]
    paragraphs = 35 + next(rng) % 180
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
        payload = _synth_docx(rng, paragraphs // 4)
    elif kind == "pdf":
        payload = write_pdf([_page(rng, 30) for _ in range(1 + next(rng) % 4)])
    elif kind == "png":
        payload = render_text_png("\n".join(_page(rng, 4 + next(rng) % 8)))
    elif kind == "encrypted":
        payload, ext = _encrypted_ooxml(rng), "docx"
    elif kind == "null":
        payload, ext = None, "bin"
    else:  # unknown binary
        payload, ext = bytes(next(rng) % 256 for _ in range(64)), "bin"
    return f"https://webmix.test/{seed}/{doc_id}.{ext}", payload


def giant_pdf(seed: int, doc_id: int) -> bytes:
    """Multi-hundred-page text-layer PDF sized just above
    ``SALT_MIN_BYTES``, so the router sends it to the salted path."""
    rng = _rng(seed, doc_id)
    target = SALT_MIN_BYTES * (1 + GIANT_MARGIN + GIANT_MARGIN * (next(rng) % 1000) / 1000)
    pages: list[list[str]] = []
    pdf = b""
    while len(pdf) < target:
        # grow by an estimate of the missing pages (~5 KB each), then
        # measure the real size again
        for _ in range(1 + int(target - len(pdf)) // 5000):
            pages.append(_page(rng, PAGE_LINES))
        pdf = write_pdf(pages)
    return pdf


def webmix(seed: int, n_docs: int) -> list[Doc]:
    return [webmix_doc(seed, i) for i in range(n_docs)]


def pdfskew(seed: int, n_pages: int, n_giants: int) -> list[Doc]:
    """Small HTML pages followed by a tail of giant PDFs."""
    docs = [
        (f"https://pdfskew.test/{seed}/{i}.html", _web_page(_rng(seed, i)))
        for i in range(n_pages)
    ]
    for doc_id in range(n_pages, n_pages + n_giants):
        docs.append((f"https://pdfskew.test/{seed}/{doc_id}.pdf", giant_pdf(seed, doc_id)))
    return docs


def ocr_scan(seed: int, n_scans: int, n_pdfs: int, scan_lines: int = 24) -> list[Doc]:
    """Page scans rendered in the glyph engine's font plus text-layer
    PDFs of ``OCR_PDF_PAGES`` pages (rasterized page by page in OCR
    mode). The page count is the same for every seed: a PDF is one
    task, so its length sets the job's critical path."""
    docs: list[Doc] = []
    for i in range(n_scans):
        rng = _rng(seed, i)
        png = render_text_png("\n".join(_page(rng, scan_lines)))
        docs.append((f"https://ocr.test/{seed}/{i}.png", png))
    for i in range(n_scans, n_scans + n_pdfs):
        rng = _rng(seed, i)
        docs.append(
            (
                f"https://ocr.test/{seed}/{i}.pdf",
                write_pdf([_page(rng, 8) for _ in range(OCR_PDF_PAGES)]),
            )
        )
    return docs


def write_pages(docs: list[Doc], path: Path, n_files: int = 8) -> None:
    """Pages table (``sources.pages.PAGES_SCHEMA`` column order) as a
    directory of ``n_files`` parquet files, documents dealt round-robin
    (a multi-file table, so the scan splits like a real crawl shard)."""
    base_ts = dt.datetime(2026, 1, 1)
    path.mkdir(parents=True, exist_ok=True)
    for f in range(n_files):
        part = docs[f::n_files]
        table = pa.table(
            {
                "url": pa.array([u for u, _ in part], pa.string()),
                "warc_ts": pa.array(
                    [base_ts + dt.timedelta(seconds=f + n_files * i) for i in range(len(part))],
                    pa.timestamp("us"),
                ),
                "html": pa.array([p for _, p in part], pa.binary()),
                "text": pa.array([None] * len(part), pa.string()),
                "lang": pa.array(["en"] * len(part), pa.string()),
            }
        )
        pq.write_table(table, path / f"part-{f:05d}.parquet")


# ---------------------------------------------------------------------------
# Registry tables (documents / embeddings / lineitem, testdata schemas)
# ---------------------------------------------------------------------------

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 14


def registry_tables(seed: int, sf_dir: Path, n_docs: int, n_vecs: int, n_lines: int) -> None:
    """The three tables the registry workload's queries read, in the
    column layout of the driver's scale-factor directories."""
    gen = np.random.default_rng(seed)
    sf_dir.mkdir(parents=True, exist_ok=True)

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and gen.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(gen.integers(0, i))] + " dup")
        else:
            n_words = int(gen.integers(10, 100))
            texts.append(" ".join(_VOCAB[k] for k in gen.integers(0, len(_VOCAB), n_words)))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [_LANGS[k] for k in gen.integers(0, len(_LANGS), n_docs)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        sf_dir / "documents.parquet",
    )

    vecs = gen.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(gen.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        sf_dir / "embeddings.parquet",
    )

    qty = gen.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(qty * gen.uniform(900.0, 2100.0, n_lines), 2)
    day0 = np.datetime64("1995-01-01")
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(gen.integers(0, max(n_lines // 4, 1), n_lines), pa.int64()),
                "l_partkey": pa.array(gen.integers(0, 2000, n_lines), pa.int64()),
                "l_suppkey": pa.array(gen.integers(0, 100, n_lines), pa.int64()),
                "l_linenumber": pa.array(gen.integers(1, 8, n_lines), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": np.round(gen.integers(0, 11, n_lines) / 100.0, 2),
                "l_tax": np.round(gen.integers(0, 9, n_lines) / 100.0, 2),
                "l_returnflag": [("A", "N", "R")[k] for k in gen.integers(0, 3, n_lines)],
                "l_linestatus": [("F", "O")[k] for k in gen.integers(0, 2, n_lines)],
                "l_shipdate": pa.array(
                    day0 + gen.integers(0, 2500, n_lines).astype("timedelta64[D]"),
                    pa.timestamp("us"),
                ),
            }
        ),
        sf_dir / "lineitem.parquet",
    )
