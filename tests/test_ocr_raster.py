"""OCR-mode PDFs go to the engine as pixels from one parse: one open
gives the page count and every page, each page reaches the engine as a
``Raster`` (no PNG encode/decode), and the rows are the ones the
per-page parse + PNG round trip produced."""

from __future__ import annotations

import pytest

from ocr_service_spark.extraction import ocr_engine, pdf_text
from ocr_service_spark.extraction.glyph_ocr import (
    GlyphOcrEngine,
    render_text_luma,
    render_text_png,
)
from ocr_service_spark.extraction.ocr_engine import Raster
from ocr_service_spark.extraction.pipeline import extract_document
from ocr_service_spark.extraction.png_codec import encode_png_gray
from ocr_service_spark.sources.pages import write_text_pdf

SWALLOWED = {
    "extracted_text": "",
    "content_type": "application/pdf",
    "pages": None,
    "confidence": None,
    "success": False,
    "ocr_skipped": False,
    "fallback_reason": None,
    "doc_class": "pdf",
    "metadata": {"log_message": "No text has been generated."},
}


def _ok(text: str, pages: int) -> dict:
    return {
        **SWALLOWED,
        "extracted_text": text,
        "pages": pages,
        "confidence": 100.0,
        "success": True,
        "metadata": {"log_message": ""},
    }


def _encrypted_pdf() -> bytes:
    # standard security handler whose /U does not verify the empty
    # user password: the parser raises PdfEncryptedError
    return write_text_pdf(
        ["locked"],
        extra_objs=(
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -4 "
            b"/O <" + b"11" * 32 + b"> /U <" + b"22" * 32 + b"> >>",
        ),
        trailer=" /Encrypt 6 0 R /ID [<00112233445566778899aabbccddeeff> "
        "<00112233445566778899aabbccddeeff>]",
    )


# rows the per-page parse + PNG round trip produced for these documents
_ROWS = {
    "multi_page": (
        write_text_pdf(["PAGE ONE", "Page two", "3rd (x)"]),
        _ok("PAGE ONEPage two3rd (x)", 3),
    ),
    "wrapped_lines": (
        write_text_pdf(["x" * 200, "A" * 96 + "b" * 97]),
        _ok(
            "x" * 96 + "\n" + "x" * 96 + "\n" + "x" * 8 + "A" * 96 + "\n" + "b" * 96 + "\nb",
            2,
        ),
    ),
    "zero_pages": (write_text_pdf([]), SWALLOWED),
    "junk": (b"%PDF-1.4 not really a pdf", SWALLOWED),
    "encrypted": (_encrypted_pdf(), SWALLOWED),
}


@pytest.mark.parametrize("name", sorted(_ROWS))
def test_ocr_mode_rows(name: str):
    pdf, want = _ROWS[name]
    assert extract_document(pdf, "u.pdf", "OCR") == {"url": "u.pdf", **want}


def test_twelve_page_pdf_is_parsed_once(monkeypatch):
    parses = []
    real_init = pdf_text._Document.__init__

    def counting_init(self, *args, **kwargs):
        parses.append(1)
        real_init(self, *args, **kwargs)

    monkeypatch.setattr(pdf_text._Document, "__init__", counting_init)
    pages = [f"page {i} of twelve" for i in range(12)]
    row = extract_document(write_text_pdf(pages), "u.pdf", "OCR")
    assert row["extracted_text"] == "".join(pages)
    assert row["pages"] == 12
    assert len(parses) == 1


def test_pages_reach_the_engine_as_rasters(monkeypatch):
    # the pipeline looks the rasterizer and the engine up on the module
    # at call time (perfbench wraps both there)
    seen = []

    class Recording:
        def recognize(self, image):
            seen.append(image)
            return GlyphOcrEngine().recognize(image)

    monkeypatch.setattr(ocr_engine, "get_engine", Recording)
    row = extract_document(write_text_pdf(["ONE", "TWO"]), "u.pdf", "OCR")
    assert row["extracted_text"] == "ONETWO"
    assert [type(image) for image in seen] == [Raster, Raster]
    assert seen[1] == render_text_luma("TWO")


def test_failure_on_any_page_gives_the_swallowed_row(monkeypatch):
    real = ocr_engine.rasterize_pdf_page

    def failing_second_page(doc, page_no):
        if page_no == 1:
            raise RuntimeError("render failed")
        return real(doc, page_no)

    monkeypatch.setattr(ocr_engine, "rasterize_pdf_page", failing_second_page)
    row = extract_document(write_text_pdf(["ONE", "TWO", "THREE"]), "u.pdf", "OCR")
    assert row == {"url": "u.pdf", **SWALLOWED}


def _upscaled(raster: Raster, k: int) -> Raster:
    # k x k pixel blocks: line bands taller than the font's, so the
    # engine takes its scan path
    rows = [raster.luma[y * raster.width : (y + 1) * raster.width] for y in range(raster.height)]
    luma = b"".join(bytes(v for v in row for _ in range(k)) * k for row in rows)
    return Raster(raster.width * k, raster.height * k, luma)


@pytest.mark.parametrize(
    "raster",
    [
        render_text_luma("Hello World\nline 2, Mixed-Case."),
        render_text_luma(""),
        _upscaled(render_text_luma("SCAN PATH 42"), 3),
        Raster(7, 5, bytes((i * 37) % 256 for i in range(35))),
    ],
    ids=["font", "blank", "upscaled", "noise"],
)
def test_glyph_engine_raster_equals_its_png(raster: Raster):
    engine = GlyphOcrEngine()
    png = encode_png_gray(raster.width, raster.height, raster.luma)
    assert engine.recognize(raster) == engine.recognize(png)


def test_render_text_png_encodes_render_text_luma():
    raster = render_text_luma("abc\nDEF")
    assert render_text_png("abc\nDEF") == encode_png_gray(raster.width, raster.height, raster.luma)

