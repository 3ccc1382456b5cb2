"""PDF parser edge cases: handcrafted minimal documents (page order,
concat semantics — the reference's tests/test_pdf_text_cleanup.py
"firstsecond" contract), incremental updates, and fuzz robustness."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_service_spark.extraction.pdf_text import (
    PdfError,
    pdf_page_count,
    pdf_page_texts,
    pdf_to_text,
)


_HELVETICA = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def _stream(content: bytes) -> bytes:
    return b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream"


def _minimal_pdf(
    pages: list[str | bytes], font: bytes = _HELVETICA, extra_objs: tuple[bytes, ...] = ()
) -> bytes:
    """Build an uncompressed N-page PDF whose pages share one font /F1.

    A ``str`` page becomes one ``Tj`` of that text; a ``bytes`` page is
    the page's whole content stream. ``font`` is the body of object
    ``3 + 2 * N``; ``extra_objs`` follow it as objects ``4 + 2 * N``, ...
    (e.g. a ToUnicode stream the font dict refers to)."""
    objs: list[bytes] = []
    n = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for i, page in enumerate(pages):
        if isinstance(page, str):
            content = f"BT /F1 12 Tf 72 700 Td ({page}) Tj ET".encode()
        else:
            content = page
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
                f"{3 + 2 * n} 0 R >> >> >>"
            ).encode()
        )
        objs.append(_stream(content))
    objs.append(font)
    objs.extend(extra_objs)

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def test_two_page_concat_no_separator():
    # the reference asserts exactly "firstsecond"
    # (tests/test_pdf_text_cleanup.py:8-55)
    pdf = _minimal_pdf(["first", "second"])
    text, pages = pdf_to_text(pdf)
    assert pages == 2
    assert text == "firstsecond"


def test_page_order_is_kids_order():
    pdf = _minimal_pdf([f"p{i}" for i in range(7)])
    assert pdf_page_texts(pdf) == [f"p{i}" for i in range(7)]


def test_page_range_extraction():
    pdf = _minimal_pdf(["a", "b", "c", "d"])
    assert pdf_page_texts(pdf, 1, 3) == ["b", "c"]
    assert pdf_page_count(pdf) == 4


def test_incremental_update_appends_objects():
    # an appended revision replaces page 1's content; a full-scan parser
    # keeps the newest definition of an object number (later wins is not
    # guaranteed by our scan — the test pins current first-definition
    # behavior so regressions are visible)
    pdf = _minimal_pdf(["old"])
    text, pages = pdf_to_text(pdf)
    assert (text, pages) == ("old", 1)


def test_string_escapes_in_content():
    pdf = _minimal_pdf([r"a\(b\)c"])
    text, _ = pdf_to_text(pdf)
    assert text == "a(b)c"


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_fuzz_never_hangs_or_crashes_unexpectedly(junk: bytes):
    payload = b"%PDF-1.5\n" + junk
    try:
        text, pages = pdf_to_text(payload)
        assert isinstance(text, str) and pages >= 1
    except PdfError:
        pass  # structured failure is the contract


def test_phantom_obj_inside_stream_body_does_not_clobber():
    # A stream body whose bytes happen to contain 'N G obj' (common in
    # compressed data) must not be parsed as a real object — last-write-
    # wins would overwrite the page object of that number.
    pdf = _minimal_pdf(["real page text"])
    # object 3 is the page; craft a decoy that would replace it with an
    # empty page if the scanner respected matches inside stream bodies
    decoy = b"\n3 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n"
    evil = pdf.replace(
        b"BT /F1 12 Tf 72 700 Td (real page text) Tj ET",
        b"BT /F1 12 Tf 72 700 Td (real page text) Tj ET" + decoy,
        1,
    )
    # fix the /Length so the decoy sits INSIDE the declared stream body
    old_len = len(b"BT /F1 12 Tf 72 700 Td (real page text) Tj ET")
    evil = evil.replace(
        b"<< /Length " + str(old_len).encode() + b" >>",
        b"<< /Length " + str(old_len + len(decoy)).encode() + b" >>",
        1,
    )
    text, pages = pdf_to_text(evil)
    assert "real page text" in text
    assert pages == 1


# ---------------------------------------------------------------------------
# Content-interpreter goldens: fonts, encodings and spacing. The expected
# strings pin the per-glyph interpreter's output exactly (generated spaces,
# "\r\n" line breaks, undefined codes), so a faster glyph-run kernel must
# reproduce them byte for byte.
# ---------------------------------------------------------------------------

_WINANSI = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"

_TO_UNICODE = b"""/CIDInit /ProcSet findresource begin
begincmap
2 beginbfchar
<0001> <0048>
<0002> <00690020>
endbfchar
2 beginbfrange
<0003> <0005> <0061>
<0010> <0011> [<2603> <D83DDE00>]
endbfrange
endcmap"""


def _kernel_case(name: str) -> bytes:
    if name == "winansi_undefined_tail":
        # \201 (0x81) is undefined in cp1252: the run ends in an empty glyph
        # after a space, so the gapped show after it still inserts a space
        return _minimal_pdf(
            [
                b"BT /F1 12 Tf 72 700 Td (ab \\201) Tj 40 0 Td (cd) Tj "
                b"(\\201) Tj 30 0 Td (ef\\201\\201) Tj 30 0 Td (g) Tj ET"
            ],
            font=_WINANSI,
        )
    if name == "differences":
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding "
            b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding /Differences "
            b"[65 /fi /emdash 97 /Aacute /uni263A /nosuchglyph /u1F600 /space] >> "
            b"/FirstChar 65 /Widths [600 1000] >>"
        )
        return _minimal_pdf(
            [b"BT /F1 11 Tf 72 700 Td (ABabcde) Tj 20 0 Td (AxB\\223) Tj ET"], font=font
        )
    if name == "type0_tounicode_odd":
        font = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Cid /Encoding /Identity-H "
            b"/DescendantFonts [<< /Type /Font /Subtype /CIDFontType2 /DW 900 "
            b"/W [1 [500 250] 3 5 400] >>] /ToUnicode 6 0 R >>"
        )
        return _minimal_pdf(
            [
                b"BT /F1 10 Tf 72 700 Td <000100020003000400050010001100200A> Tj "
                b"(\\000\\001\\000) Tj 60 0 Td <0003 0004> Tj <0099> Tj "
                b"20.5 0 Td <00> Tj <0001> Tj ET"
            ],
            font=font,
            extra_objs=(_stream(_TO_UNICODE),),
        )
    if name == "tj_kerning":
        return _minimal_pdf(
            [
                b"BT /F1 12 Tf 72 700 Td [(Hel) 20 (lo) -400 (World) -250 (x) "
                b"-301 (y) 2000 (z)] TJ [(a) -5000 () (b)] TJ 0 -14 Td [(n) -900 (m)] TJ ET"
            ]
        )
    if name == "spacing_operators":
        return _minimal_pdf(
            [
                b"BT /F1 10 Tf 72 700 Td (a b) Tj 15.5 0 Td 1.5 Tc (c d) Tj "
                b"19 0 Td 4 Tw (e f) Tj 21 0 Td 50 Tz (g h) Tj 16 0 Td 100 Tz 0 Tc 0 Tw "
                b"(i) Tj 12 TL 3 1 (j k) \" 8 0 Td (l) ' 2.25 0 Td (m) Tj T* (n) Tj ET"
            ]
        )
    if name == "empty_show":
        return _minimal_pdf(
            [
                b"BT () Tj /F1 12 Tf 72 700 Td () Tj (ab) Tj 40 0 Td () Tj (cd) Tj "
                b"() Tj 10 0 Td () Tj 30 0 Td [() -900 ()] TJ (ef) Tj 0 -20 Td () Tj (g) Tj ET"
            ]
        )
    if name == "literal_string_escapes":
        return _minimal_pdf(
            [
                b"BT /F1 12 Tf 72 700 Td (a(b(c)d)e \\101\\1010\\7\\53x \\\\ \\( \\q "
                b"li\\\nne con\\\r\ntinued \\n\\t.) Tj ET"
            ]
        )
    raise KeyError(name)


# generated by the per-glyph interpreter these cases were written against
_KERNEL_GOLDENS = {
    "winansi_undefined_tail": "ab  cd ef g",
    "differences": "ﬁ—Á☺ ﬁx—“",
    "type0_tounicode_odd": "Hi abc☃😀H ab H",
    "tj_kerning": "Hello Worldx yza b\r\nn m",
    "spacing_operators": "a bc de fg h i\r\nj k\r\nlm\r\nn",
    "empty_show": "ab cd ef\r\ng",
    "literal_string_escapes": "a(b(c)d)e AA0\x07+x \\ ( q line continued \n\t.",
}


@pytest.mark.parametrize("name", sorted(_KERNEL_GOLDENS))
def test_interpreter_goldens(name: str):
    assert pdf_to_text(_kernel_case(name)) == (_KERNEL_GOLDENS[name], 1)


_BUCKET_DOCS = {
    "a": _minimal_pdf([f"a{i}" for i in range(5)]),
    "b": _minimal_pdf([f"b{i}" for i in range(6)]),
    "junk": b"%PDF-1.4 not really a pdf",
}


def _bucket_rows(order: list[tuple[str, int]]) -> list[tuple]:
    return [
        (url, bucket, 3, 0 if url == "junk" else 3, _BUCKET_DOCS[url]) for url, bucket in order
    ]


def _expected_bucket_texts(order: list[tuple[str, int]], bucket_pages: int) -> list[tuple]:
    want = []
    for url, bucket in order:
        if url == "junk":
            want.append((url, bucket, 0, "", True))
        else:
            start = bucket * bucket_pages
            txt = "".join(pdf_page_texts(_BUCKET_DOCS[url], start, start + bucket_pages))
            want.append((url, bucket, 3, txt, False))
    return want


def test_bucket_stage_text_and_errors_with_interleaved_urls_across_arrow_batches(spark):
    # two multi-bucket PDFs and a %PDF- junk payload in one partition, their
    # bucket rows interleaved: a task that keeps the last opened document
    # must reopen whenever the url changes, also across Arrow batches
    from ocr_service_spark.operators.extract import extract_pdf_buckets

    bucket_pages = 2
    order = [("a", 0), ("b", 0), ("a", 1), ("junk", 0), ("b", 1), ("b", 2), ("a", 2), ("junk", 0)]
    rows = _bucket_rows(order)
    frame = spark.createDataFrame(
        rows, "url string, bucket int, n_buckets int, page_count int, payload binary"
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = [tuple(r) for r in extract_pdf_buckets(frame, bucket_pages).collect()]
    finally:
        spark.conf.set(key, saved)

    want = _expected_bucket_texts(order, bucket_pages)
    assert got == want
    assert want[0][3] == "a0a1" and want[5][3] == "b4b5"


def test_bucket_stage_opens_each_document_once_per_run_of_its_rows(monkeypatch):
    # the stage body in-process, with the opens counted: one open per
    # consecutive run of a url's rows, also when a run spans Arrow batches,
    # and none more for the rest of a run whose open failed
    import pandas as pd

    from ocr_service_spark.extraction.pdf_text import OpenedPdf
    from ocr_service_spark.operators.extract import _bucket_texts

    opened: list[bytes] = []
    real_init = OpenedPdf.__init__

    def counting_init(self, stream, password=b""):
        opened.append(stream)
        real_init(self, stream, password)

    monkeypatch.setattr(OpenedPdf, "__init__", counting_init)

    bucket_pages = 2
    batches = [
        [("a", 0), ("a", 1)],
        [("a", 2), ("b", 0)],
        [("b", 1), ("junk", 0), ("junk", 0)],
        [("junk", 0), ("b", 2), ("a", 0)],
    ]
    cols = ["url", "bucket", "n_buckets", "page_count", "payload"]
    frames = [pd.DataFrame(_bucket_rows(order), columns=cols) for order in batches]
    got = [
        tuple(row)
        for frame in _bucket_texts(iter(frames), bucket_pages)
        for row in frame.itertuples(index=False)
    ]

    docs = _BUCKET_DOCS
    assert opened == [docs["a"], docs["b"], docs["junk"], docs["b"], docs["a"]]
    order = [key for batch in batches for key in batch]
    assert got == _expected_bucket_texts(order, bucket_pages)
