"""Tests for the benchmark's own code: corpus determinism, the PDF sizes
around the salting threshold, and the event-log parser on a tiny job.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

import corpus  # noqa: E402
import eventlog  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

from ocr_service_spark.extraction.pdf_text import pdf_page_count, pdf_to_text  # noqa: E402
from ocr_service_spark.plans.job import SALT_MIN_BYTES  # noqa: E402


def test_webmix_is_deterministic_per_seed_and_doc():
    assert corpus.webmix(7, 40) == corpus.webmix(7, 40)
    assert corpus.webmix_doc(7, 13) == corpus.webmix(7, 20)[13]
    assert corpus.webmix(7, 40) != corpus.webmix(8, 40)


def test_pdfskew_and_ocr_scan_are_deterministic():
    assert corpus.pdfskew(3, 5, 1) == corpus.pdfskew(3, 5, 1)
    assert corpus.ocr_scan(3, 2, 1) == corpus.ocr_scan(3, 2, 1)


WEBMIX = corpus.webmix(1, 300)
PDFSKEW = {seed: corpus.pdfskew(seed, 3, 1) for seed in (1, 2, 3)}


@pytest.fixture(scope="module")
def routed() -> set[str]:
    """Urls of the WEBMIX and PDFSKEW documents that the job's router
    (``plans.job.is_big_pdf``) sends to the salted path."""
    from ocr_service_spark.plans.job import is_big_pdf
    from ocr_service_spark.plans.session import build_session

    docs = WEBMIX + [doc for docs in PDFSKEW.values() for doc in docs]
    spark = build_session(app_name="perfbench-test-router", cpus=2)
    try:
        pages = spark.createDataFrame(docs, "url string, html binary")
        return {row["url"] for row in pages.filter(is_big_pdf()).select("url").collect()}
    finally:
        spark.stop()


def test_webmix_covers_the_format_mix_below_the_salting_threshold(routed):
    exts = {url.rsplit(".", 1)[-1] for url, _ in WEBMIX}
    assert {"html", "txt", "rtf", "xml", "docx", "pdf", "png", "bin"} <= exts
    assert any(p and p[:4] == b"%PDF" for _, p in WEBMIX)
    assert not routed & {url for url, _ in WEBMIX}
    assert max(len(p) for _, p in WEBMIX if p) < SALT_MIN_BYTES / 10


@pytest.mark.parametrize("seed", sorted(PDFSKEW))
def test_pdfskew_giant_lands_just_above_the_salting_threshold(routed, seed):
    docs = PDFSKEW[seed]
    giant_url, giant = docs[-1]
    assert routed & {url for url, _ in docs} == {giant_url}
    assert SALT_MIN_BYTES < len(giant) < SALT_MIN_BYTES * (1 + 3 * corpus.GIANT_MARGIN)
    assert pdf_page_count(giant) >= 200


def test_write_pdf_round_trips_through_the_parser():
    pdf = corpus.write_pdf([["first line", "second (line)"], ["page two"]])
    text, pages = pdf_to_text(pdf)
    assert pages == 2
    assert "first line" in text and "second (line)" in text and "page two" in text


def test_registry_tables_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    corpus.registry_tables(5, tmp_path / "a", 50, 20, 100)
    corpus.registry_tables(5, tmp_path / "b", 50, 20, 100)
    for table in workloads.REGISTRY_TABLES:
        assert pq.read_table(tmp_path / "a" / f"{table}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{table}.parquet")
        )


def test_single_pass_times_functions_and_restores_them():
    from ocr_service_spark.extraction import pipeline

    before = {name: getattr(pipeline, name) for names in layers.TIMED.values() for name in names}
    docs = corpus.webmix(4, 30)
    metrics, salted_s = layers.single_pass(docs, "NO_OCR", {docs[0][0]})
    assert salted_s > 0
    assert metrics["extraction.html.ms_p50"] > 0
    assert metrics["extraction.classify.ms"] > 0
    assert metrics["extraction.docs_per_cpu_s"] > 0
    assert before == {name: getattr(pipeline, name) for name in before}


def test_gate_rows_counts_missing_duplicated_and_mismatched_rows():
    import pandas as pd

    from ocr_service_spark.extraction.pipeline import extract_document

    docs = corpus.webmix(2, 6)
    expected = [extract_document(p, u) for u, p in docs]
    got = pd.DataFrame(expected)
    assert workloads.gate_rows(got, expected) == (6, [])
    broken = pd.concat([got.iloc[1:], got.iloc[[1]]], ignore_index=True)
    broken.loc[0, "extracted_text"] = "changed"
    checked, problems = workloads.gate_rows(broken, expected)
    assert (checked, len(problems)) == (6, 3)  # one missing, one duplicated, one changed


def test_event_log_parser_on_a_tiny_job(tmp_path):
    from ocr_service_spark.plans.session import build_session

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = build_session(
        app_name="perfbench-test",
        cpus=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir.as_uri(),
        },
    )
    try:

        def double(batches):
            for batch in batches:
                yield batch.assign(id=batch["id"] * 2)

        workloads.set_phase(spark, "tiny")
        spark.range(0, 1000, numPartitions=2).mapInPandas(double, "id long").repartition(
            3
        ).write.format("noop").mode("overwrite").save()
        workloads.set_phase(spark, None)
    finally:
        spark.stop()

    log = eventlog.read_event_log(log_dir)
    tasks = log.phase_tasks("tiny")
    assert len(tasks) >= 2
    totals = eventlog.stage_totals(tasks)
    assert totals["executor_run_s"] > 0
    assert totals["shuffle_write_mb"] > 0
    node = r"^MapInPandas double"
    assert log.node_stages(tasks, node)
    sent = log.node_metric_sum(tasks, node, "data sent to Python workers")
    assert sent > 1000 * 8  # at least the 1000 longs went to Python
    assert log.node_metric_sum(tasks, node, "time to run Python workers") > 0
