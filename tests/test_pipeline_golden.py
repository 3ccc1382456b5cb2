"""Golden tests: extract_document output must be byte-identical to the
committed goldens for every reference fixture payload.

Goldens are generated once by ``tools/gen_goldens.py`` from the
deterministic stdlib reimplementation of the reference algorithms and
reviewed against invariants asserted here (canonical phrases, per-format
parity, reference metadata semantics).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from ocr_service_spark.extraction import extract_document

GOLDEN_DIR = Path(__file__).resolve().parent / "golden"

FIXTURES = sorted(p.name[: -len(".out.txt")] for p in GOLDEN_DIR.glob("*.out.txt"))


@pytest.mark.parametrize("name", FIXTURES)
def test_byte_identical_to_golden(name: str, fixture_bytes) -> None:
    rel = name.replace("__", "/")
    payload = fixture_bytes(rel)
    row = extract_document(payload, f"https://fixtures.test/{Path(rel).name}")

    golden_text = (GOLDEN_DIR / f"{name}.out.txt").read_text(encoding="utf-8")
    assert row["extracted_text"] == golden_text  # byte-identical gate

    golden_meta = json.loads((GOLDEN_DIR / f"{name}.json").read_text(encoding="utf-8"))
    meta = {k: v for k, v in row.items() if k != "extracted_text"}
    assert meta == golden_meta


# ---- invariants the goldens must satisfy (review gate) ---------------------

CANONICAL = "Bart Davidson"


@pytest.mark.parametrize(
    "name",
    [
        "generic__pat_id_1.txt",
        "generic__pat_id_1.html",
        "generic__pat_id_1.rtf",
        "generic__pat_id_1.docx",
        "generic__pat_id_1.odt",
        "generic__pat_id_1.pdf",
        "generic__pat_id_1.doc",
    ],
)
def test_canonical_text_present(name: str) -> None:
    text = (GOLDEN_DIR / f"{name}.out.txt").read_text(encoding="utf-8")
    assert CANONICAL in text
    assert "07754828992" in text


def test_txt_rtf_parity() -> None:
    # the RTF fixture carries the same content; the deterministic
    # extraction of both must agree exactly after finalize
    txt = (GOLDEN_DIR / "generic__pat_id_1.txt.out.txt").read_text()
    rtf = (GOLDEN_DIR / "generic__pat_id_1.rtf.out.txt").read_text()
    assert txt == rtf


def _meta(name: str) -> dict:
    return json.loads((GOLDEN_DIR / f"{name}.json").read_text())


def test_image_no_ocr_semantics() -> None:
    # converter.py:379-383 + test_process.py:143-163
    meta = _meta("generic__pat_id_1.png")
    assert meta["success"] is True
    assert meta["ocr_skipped"] is True
    assert meta["pages"] == 1
    assert meta["metadata"]["log_message"] == "OCR skipped; no text generated."


def test_encrypted_office_semantics() -> None:
    # converter.py:453-462
    meta = _meta("invalid__word_enc_noerror.docx")
    assert meta["pages"] == 0
    assert meta["success"] is False
    assert meta["metadata"]["encrypted"] == "True"
    assert meta["metadata"]["unsupported_reason"] == "encrypted_office_document"
    assert meta["content_type"] == "application/vnd.openxmlformats-officedocument"


def test_office_fallback_reason() -> None:
    meta = _meta("generic__pat_id_1.docx")
    assert meta["fallback_reason"] == "no_pdf_produced"
    assert meta["content_type"] == "text/plain"
    assert meta["pages"] == 1


def test_multi_page_pdf_page_count() -> None:
    assert _meta("pdf__ex1.pdf")["pages"] == 10


def test_failed_documents_have_empty_metadata() -> None:
    # processor.py:93-96: swallowed exception -> empty metadata
    for name in ("pdf__ex1_enc.pdf", "language__gr_sample_gpt.txt"):
        meta = _meta(name)
        assert meta["success"] is False
        assert meta["metadata"]["log_message"] == "No text has been generated."


def test_null_payload_skip_semantics() -> None:
    row = extract_document(None, "https://x.test/null")
    assert row["success"] is True
    assert row["ocr_skipped"] is True
    assert row["metadata"]["skip_reason"] == "no_binary_data"


def test_empty_payload_failure_semantics() -> None:
    row = extract_document(b"", "https://x.test/empty")
    assert row["success"] is False
    assert row["extracted_text"] == ""
