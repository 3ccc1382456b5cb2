"""E2E Spark tests: the extraction job must reproduce the pure-Python
extraction results exactly — including through the salted big-PDF path —
and the checkpoint manifest must make runs resumable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_service_spark.extraction import extract_document
from ocr_service_spark.operators.extract import BUCKET_PAGES
from ocr_service_spark.plans.job import is_big_pdf, run_extraction
from ocr_service_spark.plans.manifest import (
    completed_parts,
    input_snapshot_id,
    resume_filter,
    run_with_checkpoint,
    with_part_hash,
)
from ocr_service_spark.sources import pages as pages_mod
from ocr_service_spark.sources.pages import (
    REFERENCE_DOCS,
    decode_payload_ladder,
    generate_pages,
    load_fixture_pages,
)


@pytest.fixture(scope="module")
def fixture_results(spark):
    pages = load_fixture_pages(spark)
    # low threshold forces ex1*.pdf (194 KB) onto the salted path
    res = run_extraction(pages, salt_min_bytes=100_000)
    return {r["url"]: r for r in res.collect()}


@pytest.mark.requires_reference
def test_spark_matches_pure_python(fixture_results):
    checked = 0
    for url, row in fixture_results.items():
        name = url.rsplit("/", 1)[-1]
        matches = list(REFERENCE_DOCS.rglob(name))
        if not matches:
            continue
        want = extract_document(matches[0].read_bytes(), url)
        got = row.asDict(recursive=True)
        for key in ("url", "extracted_text", "content_type", "pages", "success",
                    "ocr_skipped", "fallback_reason", "doc_class"):
            assert got[key] == want[key], (name, key)
        assert dict(got["metadata"]) == {k: str(v) for k, v in want["metadata"].items()}, name
        checked += 1
    assert checked >= 20


@pytest.mark.requires_reference
def test_salted_path_used_for_big_pdf(spark, fixture_results):
    url = "https://fixtures.test/pdf/ex1.pdf"
    # the router's own predicate at the fixture's threshold sends ex1.pdf
    # to the salted path — proves the route
    big = load_fixture_pages(spark).filter(is_big_pdf(salt_min_bytes=100_000))
    assert url in {r["url"] for r in big.select("url").collect()}
    row = fixture_results[url]
    assert row["pages"] == 10
    assert row["success"] is True
    assert "Replace this" in row["extracted_text"]
    # the re-agg stamps the slices' extraction time like a single-pass row
    assert row["elapsed_ms"] > 0


def test_null_and_empty_rows(spark):
    pages = spark.createDataFrame(
        [("https://fixtures.test/null-payload", None),
         ("https://fixtures.test/empty-payload", bytearray(b""))],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in run_extraction(pages, salt_min_bytes=100_000).collect()}
    null_row = rows["https://fixtures.test/null-payload"]
    assert null_row["success"] is True and null_row["ocr_skipped"] is True
    empty_row = rows["https://fixtures.test/empty-payload"]
    assert empty_row["success"] is False


def test_payload_ladder(spark):
    import base64

    html = b"<html><body>ladder</body></html>"
    rows = [
        ("raw", html.decode()),
        ("b64", base64.b64encode(html).decode()),
        ("json_b64", '{"binary_data": "%s", "footer": {"k": "v"}}' % base64.b64encode(html).decode()),
        ("json_null", '{"binary_data": null}'),
        ("json_text", '{"binary_data": "plain text payload"}'),
    ]
    df = spark.createDataFrame(rows, "url string, body string")
    out = {r["url"]: r for r in decode_payload_ladder(df, "body").collect()}
    assert bytes(out["raw"]["html"]) == html
    assert bytes(out["b64"]["html"]) == html
    assert bytes(out["json_b64"]["html"]) == html
    assert out["json_b64"]["footer"]["k"] == "v"
    assert out["json_null"]["html"] is None
    assert bytes(out["json_text"]["html"]) == b"plain text payload"


@pytest.mark.requires_reference
def test_nifi_record_payload(spark):
    # the reference's NiFi-record shape (tests/test_process.py:169-256):
    # a JSON ARRAY wrapping {binary_data, footer}; the ladder takes
    # record[0] (api/process.py:56-57) and base64-decodes binary_data
    body = (REFERENCE_DOCS.parent / "payloads/sample_base64_record_nifi.json").read_text()
    df = spark.createDataFrame([("nifi", body)], "url string, body string")
    decoded = decode_payload_ladder(df, "body")
    row = run_extraction(decoded.select("url", "html")).collect()[0]
    assert row["doc_class"] == "html"
    assert row["success"] is True
    assert "Bart Davidson" in row["extracted_text"]


def test_generator_deterministic(spark):
    a = generate_pages(spark, 200, seed=7).orderBy("url").collect()
    b = generate_pages(spark, 200, seed=7).orderBy("url").collect()
    assert a == b
    classes = {r["url"].rsplit(".", 1)[-1] for r in a}
    assert {"html", "txt", "rtf", "xml", "docx", "pdf", "png", "bin"} <= classes


def test_generator_embeds_reference_payloads(spark, tmp_path, monkeypatch):
    # where the reference exists its bytes are used as they are, so the
    # driver's q41/q42 outputs do not depend on the stand-ins
    payloads = pages_mod._REFERENCE_PAYLOADS
    for rel in payloads.values():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"S:" + rel.encode())
    monkeypatch.setattr(pages_mod, "REFERENCE_DOCS", tmp_path)
    rows = generate_pages(spark, 1000, seed=3, skew_every=10).filter(
        F.length("html") < 64
    ).collect()
    embedded = {bytes(r["html"]).decode()[2:]: r["url"] for r in rows}
    assert set(embedded) == set(payloads.values())
    # each under its kind's url extension, without the "_big" suffix
    for kind, rel in payloads.items():
        assert embedded[rel].endswith("." + kind.removesuffix("_big"))


def test_generator_stand_ins_route_like_the_reference(tmp_path, monkeypatch):
    monkeypatch.setattr(pages_mod, "REFERENCE_DOCS", tmp_path / "absent")
    payloads = pages_mod._fixture_payloads()
    # generate_pages' url extension: the kind, without the "_big" suffix
    rows = {k: extract_document(v, f"u.{k.removesuffix('_big')}") for k, v in payloads.items()}
    for kind in ("docx", "docx_big"):
        assert rows[kind]["doc_class"] == "office" and rows[kind]["success"] is True
    assert rows["pdf"]["doc_class"] == "pdf" and rows["pdf"]["success"] is True
    assert rows["pdf_big"]["success"] is True and rows["pdf_big"]["pages"] > BUCKET_PAGES
    assert rows["png"]["doc_class"] == "image" and rows["png"]["ocr_skipped"] is True
    assert rows["encrypted"]["doc_class"] == "encrypted_office"


def test_fixture_loader_fails_loudly_without_reference(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(pages_mod, "REFERENCE_DOCS", tmp_path / "absent")
    with pytest.raises(FileNotFoundError, match="absent"):
        load_fixture_pages(spark)


def test_generated_pages_extract(spark):
    n = 1000
    pages = generate_pages(spark, n, seed=3)
    res = run_extraction(pages)
    stats = (
        res.groupBy("doc_class")
        .agg(F.count("*").alias("n"), F.sum(F.when(F.col("success"), 1).otherwise(0)).alias("ok"))
        .collect()
    )
    by_class = {r["doc_class"]: (r["n"], r["ok"]) for r in stats}
    assert sum(v[0] for v in by_class.values()) == n  # no row loss
    assert by_class["html"][0] > n // 2
    assert by_class["html"][0] == by_class["html"][1]  # all html succeed
    assert "encrypted_office" in by_class
    assert by_class["rtf"][0] == by_class["rtf"][1]
    assert by_class["image"][1] == by_class["image"][0]  # skip => success


def test_checkpoint_resume(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    results_path = str(tmp_path / "results")
    manifest_path = str(tmp_path / "manifest")
    generate_pages(spark, 120, seed=11).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    n_parts = 8
    snapshot = input_snapshot_id(pages_path, n_parts)

    # simulate a killed run: first run only sees parts 0-3
    first_half = with_part_hash(pages, n_parts).filter(F.col("part_hash") < 4).drop("part_hash")
    run_with_checkpoint(
        spark, first_half, pages_path, results_path, manifest_path, n_parts=n_parts
    )
    manifest1 = spark.read.parquet(manifest_path)
    done1 = {r["part_hash"] for r in manifest1.select("part_hash").collect()}
    assert done1 <= {0, 1, 2, 3} and done1

    # resume must only schedule the missing parts
    todo = resume_filter(pages, completed_parts(spark, manifest_path, snapshot), n_parts)
    remaining = {r["part_hash"] for r in todo.select("part_hash").distinct().collect()}
    assert remaining.isdisjoint(done1)

    # complete the run; results must cover every url exactly once
    run_with_checkpoint(spark, pages, pages_path, results_path, manifest_path, n_parts=n_parts)
    results = spark.read.parquet(results_path)
    assert results.count() == 120
    assert results.select("url").distinct().count() == 120
    manifest2 = spark.read.parquet(manifest_path)
    assert manifest2.select("part_hash").distinct().count() == len(
        {r["part_hash"] for r in with_part_hash(pages, n_parts).select("part_hash").distinct().collect()}
    )
    # lineage counts reconcile with results
    total = manifest2.agg(F.sum("doc_count")).collect()[0][0]
    assert total == 120


@pytest.mark.parametrize("with_footer", [False, True])
def test_read_pages_declared_schema_matches_inferred_read(spark, tmp_path, with_footer):
    """read_pages declares its schema instead of inferring it; the rows
    extracted from it equal those of an inferred read, and a table with
    an envelope footer keeps echoing it, on both the single-pass and
    the salted path."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_service_spark.extraction.glyph_ocr import render_text_png
    from ocr_service_spark.sources.pages import read_pages, write_text_pdf

    docs = [
        ("https://t.test/a.html", b"<html><body><p>declared schema</p></body></html>"),
        ("https://t.test/b.png", render_text_png("SCAN\nPAGE 2")),
        ("https://t.test/c.pdf", write_text_pdf(["one", "two", "three"])),
        ("https://t.test/d.bin", None),
    ]
    columns = {
        "url": pa.array([u for u, _ in docs], pa.string()),
        "warc_ts": pa.array([dt.datetime(2026, 1, 1)] * len(docs), pa.timestamp("us")),
        "html": pa.array([p for _, p in docs], pa.binary()),
        "text": pa.array([None] * len(docs), pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
        "extra": pa.array(range(len(docs)), pa.int64()),
    }
    footers = [[("src", u), ("n", str(i))] for i, (u, _) in enumerate(docs)]
    if with_footer:
        columns["footer"] = pa.array(footers, pa.map_(pa.string(), pa.string()))
    path = tmp_path / "pages"
    path.mkdir()
    pq.write_table(pa.table(columns), path / "part-00000.parquet")

    declared = read_pages(spark, str(path))
    assert "extra" not in declared.columns
    for mode in ("NO_OCR", "OCR"):
        # salt_min_bytes=1 sends the PDF down the salted path
        for salt in (10**9, 1):
            got, want = (
                sorted(
                    tuple((k, v) for k, v in r.asDict(recursive=True).items() if k != "elapsed_ms")
                    for r in run_extraction(df, mode=mode, salt_min_bytes=salt).collect()
                )
                for df in (declared, spark.read.parquet(str(path)))
            )
            assert got == want and len(got) == len(docs)
            echoed = {dict(r)["url"]: dict(r)["footer"] for r in got}
            assert echoed == {
                u: (dict(f) if with_footer else None) for (u, _), f in zip(docs, footers)
            }
