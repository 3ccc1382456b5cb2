#!/usr/bin/env python3
"""Generate committed golden outputs for the deterministic extraction tier.

Runs ``extract_document`` over every reference fixture payload and
writes per-fixture goldens under ``tests/golden/``: the extracted text
(``<name>.txt``) and the result row sans text (``<name>.json``).

Goldens are REVIEWED artifacts: regenerate only when a deliberate
semantic change is made, and re-verify the invariants in
``tests/test_pipeline_golden.py`` (canonical phrases, per-format parity
expectations) still hold.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ocr_service_spark.extraction import extract_document  # noqa: E402
from ocr_service_spark.sources.pages import REFERENCE_DOCS  # noqa: E402

GOLDEN_DIR = Path(__file__).resolve().parents[1] / "tests" / "golden"

FIXTURES = [
    "generic/pat_id_1.txt",
    "generic/pat_id_1.html",
    "generic/pat_id_1.rtf",
    "generic/pat_id_1.docx",
    "generic/pat_id_1.odt",
    "generic/pat_id_1.pdf",
    "generic/pat_id_1.png",
    "generic/pat_id_1.doc",
    "generic/pat_id_1_arial.docx",
    "generic/pat_id_1_openofficexml.odt",
    "generic/synthetic_medical_text_approx_20_pages.docx",
    "invalid/word_enc_noerror.docx",
    "invalid/pdf_empty.pdf",
    "invalid/tiff_multipage_spp2.tiff.zip",
    "pdf/ex1.pdf",
    "pdf/ex1_enc.pdf",
    "pdf/ex2_ocr.pdf",
    "language/cz_sample_gpt.txt",
    "language/es_sample_gpt.txt",
    "language/gr_sample_gpt.txt",
    "language/it_sample_gpt.txt",
    "language/nl_sample_gpt.txt",
    "language/ro_sample_gpt.txt",
    "language/sv_sample_gpt.txt",
]


def golden_name(rel: str) -> str:
    return rel.replace("/", "__")


def main() -> None:
    if not REFERENCE_DOCS.is_dir():
        sys.exit(f"gen_goldens: reference test documents not found: {REFERENCE_DOCS}")
    GOLDEN_DIR.mkdir(parents=True, exist_ok=True)
    for rel in FIXTURES:
        payload = (REFERENCE_DOCS / rel).read_bytes()
        row = extract_document(payload, f"https://fixtures.test/{Path(rel).name}")
        name = golden_name(rel)
        (GOLDEN_DIR / f"{name}.out.txt").write_text(row["extracted_text"], encoding="utf-8")
        meta = {k: v for k, v in row.items() if k != "extracted_text"}
        (GOLDEN_DIR / f"{name}.json").write_text(
            json.dumps(meta, indent=1, sort_keys=True, ensure_ascii=False), encoding="utf-8"
        )
        print(f"{rel:55s} -> {len(row['extracted_text']):6d} chars, success={row['success']}")


if __name__ == "__main__":
    main()
