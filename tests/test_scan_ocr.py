"""Out-of-model scan OCR (extraction/scan_ocr.py) against the
reference's REAL competency fixture.

The reference gates its OCR tier on pat_id_1.png at Levenshtein
similarity >= 0.60 vs the patient-record text
(reference test_process.py:23,143-167). **The from-scratch engine
passes that gate**: measured 0.6372 vs the DOCS gate text (whose
ceiling — a byte-perfect read — is 0.6524, because the gate text
omits the page's header line and carries literal space runs), and
0.9698 vs the document's full text. Floors pinned here sit just
under the measured values as regression gates; the 0.60 assertion
is the reference's own bar.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from ocr_service_spark.extraction.glyph_ocr import GlyphOcrEngine
from ocr_service_spark.extraction.image_codecs import decode_image_luma

GOLDEN_TXT = Path(__file__).resolve().parent / "golden/generic__pat_id_1.txt.out.txt"

# the reference DOCS gate text, verbatim incl. its line-continuation
# space runs (reference utils_helpers.py:30-36)
DOCS_TEXT = (
    "The patient’s name is Bart Davidson. His carer’s Name Paul Wayne. \
                       His telephone number is 07754828992. His Address is 61 Basildon Way, \
                       East Croyhurst, Angelton, AL64 9HT. His mother’s name is Pauline Smith. \
                       He is on 100mg Paracetamol, 20 milligrams clozapine."
)


def lev_similarity(s: str, t: str) -> float:
    """The reference's exact similarity semantics
    (utils_helpers.py:45-77): s is quote-normalized and whitespace-
    collapsed, t is compared verbatim."""
    s = s.replace("‘", "'").replace("“", '"').replace("”", '"')
    s = re.sub(r"\s+", " ", s).strip()
    if not s and not t:
        return 1.0
    a, b = (s, t) if len(s) >= len(t) else (t, s)
    prev = list(range(len(b) + 1))
    for i, ac in enumerate(a, 1):
        curr = [i] + [0] * len(b)
        for j, bc in enumerate(b, 1):
            curr[j] = min(curr[j - 1] + 1, prev[j] + 1, prev[j - 1] + (ac != bc))
        prev = curr
    return 1.0 - prev[len(b)] / max(len(a), len(b))


@pytest.fixture(scope="module")
def scan_result(fixture_bytes):
    payload = fixture_bytes("generic/pat_id_1.png")
    return GlyphOcrEngine().recognize(payload)


def test_real_scan_recognition_floor_full_text(scan_result):
    text, conf = scan_result
    full = re.sub(r"\s+", " ", GOLDEN_TXT.read_text(encoding="utf-8")).strip()
    sim = lev_similarity(text, full)
    assert sim >= 0.96, f"similarity vs full document text regressed: {sim:.4f}"
    assert 0.0 < conf < 100.0  # honest sub-certain confidence on a real scan


def test_real_scan_recognition_passes_reference_gate(scan_result):
    # the reference's own competency bar: TEXT_SIMILARITY_THRESHOLD =
    # 0.60 (test_process.py:23); 0.63 is the measured-floor pin
    text, _ = scan_result
    sim = lev_similarity(text, DOCS_TEXT)
    assert sim >= 0.60, f"reference OCR gate FAILED: {sim:.4f} < 0.60"
    assert sim >= 0.63, f"similarity vs reference DOCS gate regressed: {sim:.4f}"


def test_reference_gate_ceiling_documented():
    # the number quoted in BENCH.md/docstrings: a perfect read of this
    # page cannot exceed ~0.6524 on the reference's own gate
    full = GOLDEN_TXT.read_text(encoding="utf-8")
    ceiling = lev_similarity(full, DOCS_TEXT)
    assert abs(ceiling - 0.6524) < 0.005


def test_scan_recognition_reads_key_content(scan_result):
    text, _ = scan_result
    # load-bearing tokens a downstream NER would need
    for token in (
        "telephone number",
        "07754828992",
        "Paul Wayne",
        "Davidson",
        "Pauline Smith",
        "61 Basildon Way",
        "AL64 9HT",
        "100mg Paracetamol",
    ):
        assert token in text, f"missing {token!r}"


def test_scan_path_is_deterministic(fixture_bytes):
    payload = fixture_bytes("generic/pat_id_1.png")
    eng = GlyphOcrEngine()
    assert eng.recognize(payload) == eng.recognize(payload)


def test_in_model_path_still_exact():
    # dispatch must not disturb the in-model font path
    from ocr_service_spark.extraction.glyph_ocr import render_text_png

    text = "IN MODEL: still exact 123"
    got, conf = GlyphOcrEngine().recognize(render_text_png(text))
    assert got == text
    assert conf == 100.0


# ---------------------------------------------------------------------------
# Second independent scan fixture (tools/gen_scan_fixture2.py): bold
# weight, fractional anisotropic scale (2.6x/2.2x), sensor noise, and
# the repo's own JPEG quantization — a typeface/size neither the 5x7
# templates nor pat_id_1 exhibit, guarding against pat_id_1 overfit.
# ---------------------------------------------------------------------------

FIXTURE2 = Path(__file__).resolve().parent / "golden/scan_page2.jpg"


@pytest.fixture(scope="module")
def scan2_result():
    return GlyphOcrEngine().recognize(FIXTURE2.read_bytes())


def test_second_scan_fixture_passes_reference_gate(scan2_result):
    from tools.gen_scan_fixture2 import PAGE2_TEXT

    text, conf = scan2_result
    sim = lev_similarity(text, re.sub(r"\s+", " ", PAGE2_TEXT).strip())
    assert sim >= 0.60, f"reference OCR gate FAILED on fixture 2: {sim:.4f}"
    # measured 0.8784; floor pinned just below as a regression gate
    assert sim >= 0.86, f"similarity vs page-2 text regressed: {sim:.4f}"
    assert 0.0 < conf < 100.0


def test_second_scan_fixture_reads_key_content(scan2_result):
    text, _ = scan2_result
    for token in ("Patient Janet", "seen on 14", "amoxicillin", "2026"):
        assert token in text, f"missing {token!r}"


def test_second_scan_fixture_bytes_are_reproducible():
    # the committed fixture must be exactly what the generator produces,
    # so the transform parameters in the tool ARE the fixture's identity
    from tools.gen_scan_fixture2 import build_scan_page2

    assert build_scan_page2() == FIXTURE2.read_bytes()
