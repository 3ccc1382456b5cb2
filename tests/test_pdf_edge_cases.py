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
from ocr_service_spark.sources.pages import pdf_stream, write_text_pdf


def test_two_page_concat_no_separator():
    # the reference asserts exactly "firstsecond"
    # (tests/test_pdf_text_cleanup.py:8-55)
    pdf = write_text_pdf(["first", "second"])
    text, pages = pdf_to_text(pdf)
    assert pages == 2
    assert text == "firstsecond"


def test_page_order_is_kids_order():
    pdf = write_text_pdf([f"p{i}" for i in range(7)])
    assert pdf_page_texts(pdf) == [f"p{i}" for i in range(7)]


def test_page_range_extraction():
    pdf = write_text_pdf(["a", "b", "c", "d"])
    assert pdf_page_texts(pdf, 1, 3) == ["b", "c"]
    assert pdf_page_count(pdf) == 4


def test_incremental_update_appends_objects():
    # an appended revision replaces page 1's content; a full-scan parser
    # keeps the newest definition of an object number (later wins is not
    # guaranteed by our scan — the test pins current first-definition
    # behavior so regressions are visible)
    pdf = write_text_pdf(["old"])
    text, pages = pdf_to_text(pdf)
    assert (text, pages) == ("old", 1)


def test_string_escapes_in_content():
    pdf = write_text_pdf([r"a\(b\)c"])
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
    pdf = write_text_pdf(["real page text"])
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
        return write_text_pdf(
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
        return write_text_pdf(
            [b"BT /F1 11 Tf 72 700 Td (ABabcde) Tj 20 0 Td (AxB\\223) Tj ET"], font=font
        )
    if name == "type0_tounicode_odd":
        font = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Cid /Encoding /Identity-H "
            b"/DescendantFonts [<< /Type /Font /Subtype /CIDFontType2 /DW 900 "
            b"/W [1 [500 250] 3 5 400] >>] /ToUnicode 6 0 R >>"
        )
        return write_text_pdf(
            [
                b"BT /F1 10 Tf 72 700 Td <000100020003000400050010001100200A> Tj "
                b"(\\000\\001\\000) Tj 60 0 Td <0003 0004> Tj <0099> Tj "
                b"20.5 0 Td <00> Tj <0001> Tj ET"
            ],
            font=font,
            extra_objs=(pdf_stream(_TO_UNICODE),),
        )
    if name in ("tounicode_bfrange_surrogate_pair", "tounicode_bfrange_ligature"):
        dst = b"<41> <42> <D83DDE00>" if name.endswith("pair") else b"<41> <41> <00660069>"
        cmap = b"begincmap\n1 beginbfrange\n" + dst + b"\nendbfrange\nendcmap"
        font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>"
        return write_text_pdf(["ABC"], font=font, extra_objs=(pdf_stream(cmap),))
    if name == "tj_kerning":
        return write_text_pdf(
            [
                b"BT /F1 12 Tf 72 700 Td [(Hel) 20 (lo) -400 (World) -250 (x) "
                b"-301 (y) 2000 (z)] TJ [(a) -5000 () (b)] TJ 0 -14 Td [(n) -900 (m)] TJ ET"
            ]
        )
    if name == "spacing_operators":
        return write_text_pdf(
            [
                b"BT /F1 10 Tf 72 700 Td (a b) Tj 15.5 0 Td 1.5 Tc (c d) Tj "
                b"19 0 Td 4 Tw (e f) Tj 21 0 Td 50 Tz (g h) Tj 16 0 Td 100 Tz 0 Tc 0 Tw "
                b"(i) Tj 12 TL 3 1 (j k) \" 8 0 Td (l) ' 2.25 0 Td (m) Tj T* (n) Tj ET"
            ]
        )
    if name == "empty_show":
        return write_text_pdf(
            [
                b"BT () Tj /F1 12 Tf 72 700 Td () Tj (ab) Tj 40 0 Td () Tj (cd) Tj "
                b"() Tj 10 0 Td () Tj 30 0 Td [() -900 ()] TJ (ef) Tj 0 -20 Td () Tj (g) Tj ET"
            ]
        )
    if name == "literal_string_escapes":
        return write_text_pdf(
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
    # a bfrange destination of two UTF-16 units is incremented per code
    # (PDF 32000 §9.10.3), so B maps to the next emoji
    "tounicode_bfrange_surrogate_pair": "😀😁C",
    "tounicode_bfrange_ligature": "fiBC",
}


@pytest.mark.parametrize("name", sorted(_KERNEL_GOLDENS))
def test_interpreter_goldens(name: str):
    assert pdf_to_text(_kernel_case(name)) == (_KERNEL_GOLDENS[name], 1)


_BUCKET_DOCS = {
    "a": write_text_pdf([f"a{i}" for i in range(5)]),
    "b": write_text_pdf([f"b{i}" for i in range(6)]),
    "junk": b"%PDF-1.4 not really a pdf",
}
_SLICE_COLS = ["url", "slice", "n_slices", "payload", "footer"]


def _slice_rows(
    order: list[tuple[str, int]], n_slices: int = 3, docs: dict = _BUCKET_DOCS
) -> list[tuple]:
    return [(url, j, n_slices, docs[url], None) for url, j in order]


def _expected_slice_texts(
    order: list[tuple[str, int]], bucket_pages: int, n_slices: int = 3
) -> list[tuple]:
    # slice j of n holds buckets [nb*j//n, nb*(j+1)//n), nb the bucket count
    want = []
    for url, j in order:
        nbytes = len(_BUCKET_DOCS[url])
        if url == "junk":
            want.append((url, j, -1, "", True, None, nbytes))
            continue
        pages = pdf_page_texts(_BUCKET_DOCS[url])
        nb = -(-len(pages) // bucket_pages)
        buckets = range(nb * j // n_slices, nb * (j + 1) // n_slices)
        txt = "".join("".join(pages[b * bucket_pages : (b + 1) * bucket_pages]) for b in buckets)
        want.append((url, j, len(pages), txt, False, None, nbytes))
    return want


def _without_ms(rows) -> list[tuple]:
    """Slice-stage rows without their last column, the slice's
    extraction milliseconds, which must be a time."""
    rows = [tuple(row) for row in rows]
    assert all(row[-1] >= 0 for row in rows)
    return [row[:-1] for row in rows]


def _run_slice_stage(batches: list[list[tuple]], bucket_pages: int) -> list[tuple]:
    """The slice stage's body in-process, one Arrow batch per list."""
    import pandas as pd

    from ocr_service_spark.operators.extract import _bucket_texts

    frames = [pd.DataFrame(rows, columns=_SLICE_COLS) for rows in batches]
    return _without_ms(
        row
        for frame in _bucket_texts(iter(frames), bucket_pages)
        for row in frame.itertuples(index=False)
    )


@pytest.fixture
def opens(monkeypatch) -> list[bytes]:
    """The payload of every ``OpenedPdf`` opened, in order."""
    from ocr_service_spark.extraction.pdf_text import OpenedPdf

    opened: list[bytes] = []
    real_init = OpenedPdf.__init__

    def counting_init(self, stream, password=b""):
        opened.append(stream)
        real_init(self, stream, password)

    monkeypatch.setattr(OpenedPdf, "__init__", counting_init)
    return opened


def test_bucket_stage_text_and_errors_with_interleaved_urls_across_arrow_batches(spark):
    # two multi-bucket PDFs and a %PDF- junk payload in one partition, their
    # slice rows interleaved: a task that keeps the last opened document
    # must reopen whenever the url changes, also across Arrow batches
    from ocr_service_spark.operators.extract import extract_pdf_buckets

    bucket_pages = 2
    order = [("a", 0), ("b", 0), ("a", 1), ("junk", 0), ("b", 1), ("b", 2), ("a", 2), ("junk", 1)]
    frame = spark.createDataFrame(
        _slice_rows(order),
        "url string, slice int, n_slices int, payload binary, footer map<string,string>",
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = _without_ms(extract_pdf_buckets(frame, bucket_pages).collect())
    finally:
        spark.conf.set(key, saved)

    want = _expected_slice_texts(order, bucket_pages)
    assert got == want
    assert want[0][3] == "a0a1" and want[5][3] == "b4b5"


def test_bucket_stage_opens_each_document_once_per_run_of_its_rows(opens):
    # one open per consecutive run of a url's rows, also when a run spans
    # Arrow batches, and none more for the rest of a run whose open failed
    bucket_pages = 2
    batches = [
        [("a", 0), ("a", 1)],
        [("a", 2), ("b", 0)],
        [("b", 1), ("junk", 0), ("junk", 1)],
        [("junk", 2), ("b", 2), ("a", 0)],
    ]
    got = _run_slice_stage([_slice_rows(order) for order in batches], bucket_pages)

    docs = _BUCKET_DOCS
    assert opens == [docs["a"], docs["b"], docs["junk"], docs["b"], docs["a"]]
    order = [key for batch in batches for key in batch]
    assert got == _expected_slice_texts(order, bucket_pages)


def test_slices_past_the_last_bucket_do_no_page_work(opens, monkeypatch):
    # "a" has 5 pages, 3 buckets of 2: of 7 slices, 4 get no bucket, and
    # every page is interpreted exactly once over the run
    from ocr_service_spark.extraction import pdf_text

    interpreted = []
    real = pdf_text._interpret_page
    monkeypatch.setattr(
        pdf_text, "_interpret_page", lambda *a: interpreted.append(1) or real(*a)
    )
    got = _run_slice_stage([_slice_rows([("a", j) for j in range(7)], 7)], 2)

    assert [row[3] for row in got] == ["", "", "a0a1", "", "a2a3", "", "a4"]
    assert {row[2] for row in got} == {5} and not any(row[4] for row in got)
    assert len(opens) == 1 and len(interpreted) == 5


def test_zero_page_pdf_slices_are_errors():
    # an empty page tree does not open: every slice is an error row
    # with page_count -1, which the re-agg turns into the empty result
    docs = {"empty": write_text_pdf([])}
    got = _run_slice_stage([_slice_rows([("empty", j) for j in range(3)], docs=docs)], 2)
    assert got == [("empty", j, -1, "", True, None, len(docs["empty"])) for j in range(3)]


@pytest.mark.parametrize("n_slices", [1, 3, 4, 7])
def test_slice_texts_in_order_equal_pdf_to_text(n_slices: int):
    pdf = write_text_pdf([f"p{i} " for i in range(37)])
    rows = _slice_rows([("long", j) for j in range(n_slices)], n_slices, {"long": pdf})
    got = _run_slice_stage([rows], 4)
    assert [row[1] for row in got] == list(range(n_slices))
    assert "".join(row[3] for row in got) == pdf_to_text(pdf)[0]
    assert {row[2] for row in got} == {37}


def test_one_font_per_font_object_per_open(monkeypatch):
    # ten pages share one font object: one _Font for the whole document,
    # not one per page, and one more for a second open
    from ocr_service_spark.extraction import pdf_text

    built = []
    real_init = pdf_text._Font.__init__

    def counting_init(self, doc, fdict):
        built.append(fdict)
        real_init(self, doc, fdict)

    monkeypatch.setattr(pdf_text._Font, "__init__", counting_init)
    pdf = write_text_pdf([f"p{i}" for i in range(10)])
    opened = pdf_text.OpenedPdf(pdf)
    assert "".join(opened.page_texts(0, 4) + opened.page_texts(4)) == pdf_to_text(pdf)[0]
    assert len(built) == 2
