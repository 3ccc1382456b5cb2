"""Simulates the driver harness: a PLAIN SparkSession (not our session
builder) in a fresh process, cwd outside the repo, running entry() and
a sample of queries(). Catches packaging/contract regressions the
in-repo tests can't see."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

DRIVER_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as em
from ocr_service_spark.sources.pages import REFERENCE_DOCS
df = em.entry(spark)
n = df.count()
assert n > 0, "entry returned no rows"
assert "extracted_text" in df.columns
qs = em.queries()
oracles = em.oracle_sql()
assert set(oracles) <= set(qs)
for name in ["q01_pricing_summary", "q14_jaccard_pairs", "q19_embedding_neardup_pairs",
             "q22_asof_attribution", "q25_ivf_topk",
             "q30_extract_html_roundtrip", "q33_payload_ladder_roundtrip",
             "q35_main_content_roundtrip", "q36_token_percentiles",
             "q38_dedup_canonical", "q39_repetition_stats",
             "q40_extract_fixtures"]:
    if name in em.NEEDS_REFERENCE and not REFERENCE_DOCS.is_dir():
        continue
    rows = qs[name](spark, "/root/testdata/sf0.001").count()
    assert rows >= 0
print("DRIVER_SIM_OK", n, len(qs), len(oracles))
spark.stop()
"""


def test_driver_harness_simulation(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", DRIVER_SCRIPT.format(repo=str(REPO))],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo root
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    marker = [ln for ln in out.stdout.splitlines() if ln.startswith("DRIVER_SIM_OK")]
    assert marker, out.stdout[-1000:]
