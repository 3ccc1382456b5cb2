#!/usr/bin/env python3
"""Generate committed expected tables for the deterministic extraction
driver queries (tests/golden/q4*_expected.parquet).

Provenance, per table:

- q40 (fixture extraction): assembled DIRECTLY from the per-fixture
  reference goldens (tests/golden/<fixture>.out.txt + .json, which
  tests/test_pipeline_golden.py ties byte-identically to the reference
  fixture payloads) plus three closed-form rows for the loader's
  synthetic fixtures (null payload -> reference skip rule S3, empty
  payload -> reject rule S4, rendered glyph page -> NO_OCR image skip,
  mirroring pat_id_1.png's golden). The engine is NOT run — the
  driver's q40 oracle is independent of engine code.
- q41 (synthetic-corpus extraction stats), q42 (media features),
  q43 (OCR-mode stats under the deterministic glyph engine): reviewed
  outputs of an engine run — deterministic end-to-end in this
  environment (seeded corpora; the engine ladder picks the glyph
  engine wherever tesseract is absent, and q43's committed table
  records that identity in its `engine` column).

Regenerate only on a deliberate semantic change, and eyeball the diff
like any golden.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

GOLDEN = REPO / "tests" / "golden"

Q40_COLS = [
    "url", "doc_class", "content_type", "pages", "success", "ocr_skipped",
    "fallback_reason", "extracted_text",
]

# closed-form rows for load_fixture_pages' synthetic fixtures
# (sources/pages.py:120-131): S3 null-payload skip, S4 empty-payload
# reject, and the rendered glyph page which NO_OCR skips exactly like
# the pat_id_1.png golden (image class, ocr_skipped, empty text)
Q40_SYNTHETIC_ROWS = [
    ("https://fixtures.test/null-payload", None, None, None, True, True, None, ""),
    ("https://fixtures.test/empty-payload", None, None, None, False, False, None, ""),
    (
        "https://fixtures.test/rendered/glyph_page.png",
        "image", "image/png", 1, True, True, None, "",
    ),
]

ENGINE_TARGETS = {
    "q41_extract_synthetic": ("q41_expected.parquet", "doc_class"),
    "q42_media_features": ("q42_expected.parquet", "url"),
    "q43_ocr_mode_stats": ("q43_expected.parquet", "doc_class"),
}


def build_q40_from_goldens() -> pd.DataFrame:
    rows = []
    for meta_path in sorted(GOLDEN.glob("*.json")):
        name = meta_path.name[: -len(".json")]
        rel = name.replace("__", "/")
        meta = json.loads(meta_path.read_text(encoding="utf-8"))
        text = (GOLDEN / f"{name}.out.txt").read_text(encoding="utf-8")
        rows.append(
            (
                f"https://fixtures.test/{rel}",
                meta["doc_class"], meta["content_type"], meta["pages"],
                meta["success"], meta["ocr_skipped"], meta["fallback_reason"],
                text,
            )
        )
    rows.extend(Q40_SYNTHETIC_ROWS)
    pdf = pd.DataFrame(rows, columns=Q40_COLS)
    pdf["pages"] = pdf["pages"].astype("float64")  # nullable in the result
    return pdf.sort_values("url", ignore_index=True)


def main() -> None:
    from ocr_service_spark.sources.pages import REFERENCE_DOCS

    # without it generate_pages falls back to stand-in payloads, which
    # would silently rewrite q41/q42 against other inputs
    if not REFERENCE_DOCS.is_dir():
        sys.exit(f"gen_expected: reference test documents not found: {REFERENCE_DOCS}")
    out = GOLDEN / "q40_expected.parquet"
    pdf = build_q40_from_goldens()
    pdf.to_parquet(out, index=False)
    print(f"wrote {out}: {len(pdf)} rows (from fixture goldens, engine not run)")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("gen-expected")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    qs = em.queries()
    for name, (fname, sort_col) in ENGINE_TARGETS.items():
        pdf = qs[name](spark, "/root/testdata/sf0.001").toPandas()
        pdf = pdf.sort_values(sort_col, ignore_index=True)
        out = GOLDEN / fname
        pdf.to_parquet(out, index=False)
        print(f"wrote {out}: {len(pdf)} rows, cols={list(pdf.columns)}")
    spark.stop()


if __name__ == "__main__":
    main()
