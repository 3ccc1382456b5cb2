"""OPERATION_MODE parity (settings.py:28): NO_OCR is the deterministic
tier; OCR routes images through the pluggable engine and reproduces the
reference's behavior when converters/rasterizers are absent."""

from __future__ import annotations

import pytest

from ocr_service_spark.extraction import extract_document
from ocr_service_spark.extraction.glyph_ocr import GlyphOcrEngine, render_text_png
from ocr_service_spark.plans.job import run_extraction
from ocr_service_spark.sources.pages import load_fixture_pages


def test_image_ocr_mode_recognizes_rendered_page_exactly():
    # in-model input: a page rendered in the engine's font is read back
    # byte-exactly at confidence 100
    png = render_text_png("PATIENT ID: 12345\nREPORT OK")
    row = extract_document(png, "u.png", mode="OCR")
    assert row["extracted_text"] == "PATIENT ID: 12345\nREPORT OK"
    assert row["confidence"] == 100.0
    assert row["pages"] == 1
    assert row["success"] is True
    assert row["ocr_skipped"] is False


def test_image_ocr_mode_reference_png_routes_through_engine(fixture_bytes):
    # out-of-model input (antialiased proportional font): routed to the
    # scaled scan path (extraction/scan_ocr.py), which actually READS
    # it — similarity floors pinned in tests/test_scan_ocr.py — with
    # honest sub-certain confidence
    png = fixture_bytes("generic/pat_id_1.png")
    row = extract_document(png, "u.png", mode="OCR")
    text, conf = GlyphOcrEngine().recognize(png)
    assert row["extracted_text"] == text.strip()
    assert "Davidson" in row["extracted_text"]
    assert row["confidence"] == round(conf, 4)
    assert 0 < conf < 100
    assert row["pages"] == 1
    assert row["ocr_skipped"] is False


def test_pdf_ocr_mode_runs_rasterize_recognize_loop(fixture_bytes):
    # full loop: parse -> text-layer rasterize (glyph font) -> binarize
    # -> segment -> recognize -> ordered page concat; output must clear
    # the reference acceptance gate vs the NO_OCR text layer
    from ocr_service_spark.functions.similarity_gate import lev_similarity

    pdf = fixture_bytes("generic/pat_id_1.pdf")
    row = extract_document(pdf, "u.pdf", mode="OCR")
    truth = extract_document(pdf, "u.pdf", mode="NO_OCR")
    assert row["success"] is True
    assert row["pages"] == truth["pages"] == 1
    assert row["confidence"] == 100.0  # every glyph matched exactly
    assert lev_similarity(row["extracted_text"], truth["extracted_text"]) >= 0.60
    assert "Bart Davidson" in row["extracted_text"]
    assert row["content_type"] == "application/pdf"


def test_pdf_ocr_mode_corrupt_pdf_swallows():
    # converter.py:213-225: rasterizer failure -> empty images, no pages
    row = extract_document(b"%PDF-1.4 garbage with no xref", "u.pdf", mode="OCR")
    assert row["success"] is False
    assert row["extracted_text"] == ""
    assert row["pages"] is None
    assert row["content_type"] == "application/pdf"


def test_text_formats_fall_back_in_ocr_mode(fixture_bytes):
    # OCR mode sends rtf/html/xml to LO (absent) -> no_pdf_produced T4
    for name, marker in (
        ("generic/pat_id_1.rtf", "Bart Davidson"),
        ("generic/pat_id_1.html", "Bart Davidson"),
    ):
        row = extract_document(fixture_bytes(name), f"u.{name[-4:]}", mode="OCR")
        assert row["fallback_reason"] == "no_pdf_produced"
        assert row["content_type"] == "text/plain"
        assert marker in row["extracted_text"]
        assert row["success"] is True


@pytest.mark.requires_reference
def test_spark_job_ocr_mode(spark):
    from ocr_service_spark.sources.pages import GLYPH_FIXTURE_TEXT

    pages = load_fixture_pages(spark)
    rows = {r["url"]: r for r in run_extraction(pages, mode="OCR").collect()}
    png = rows["https://fixtures.test/generic/pat_id_1.png"]
    assert png["success"] is True and png["confidence"] is not None
    # the in-model rendered page is recognized EXACTLY by the real
    # glyph engine, end-to-end through the Spark job
    glyph = rows["https://fixtures.test/rendered/glyph_page.png"]
    assert glyph["extracted_text"] == GLYPH_FIXTURE_TEXT
    assert glyph["confidence"] == 100.0 and glyph["success"] is True
    # deterministic NO_OCR results unchanged by the mode default
    rows_default = {r["url"]: r for r in run_extraction(pages).collect()}
    assert rows_default["https://fixtures.test/generic/pat_id_1.png"]["ocr_skipped"] is True
