"""run_with_checkpoint's results layout, on a pages table built here.

The pages table is four parquet files of plain HTML written with
pyarrow (no synthetic generator, no fixture checkout), so the scan runs
as several tasks and every task holds documents of most parts. The
write must still land ONE data file per ``part_hash=K`` directory: the
results are hash-partitioned on part_hash before the partitioned
write, so each part has exactly one writer. A rerun with every part
manifested returns before it scans the pages. The manifest probes
answer alike for a plain path and a ``file://`` URI.
"""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ocr_service_spark.operators.metrics import ExtractionMetrics
from ocr_service_spark.plans.manifest import completed_parts, run_with_checkpoint
from ocr_service_spark.plans.snapshots import latest_commit, manifest_present
from ocr_service_spark.sources.pages import PAGES_SCHEMA

N_FILES = 4
DOCS_PER_FILE = 40
N_PARTS = 8


def _write_pages(path) -> int:
    path.mkdir()
    schema = to_arrow_schema(PAGES_SCHEMA)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for k in range(N_FILES):
        ids = range(k * DOCS_PER_FILE, (k + 1) * DOCS_PER_FILE)
        html = [
            f"<html><head><title>page {i}</title></head>"
            f"<body><p>document {i} body text for the layout check</p></body></html>".encode()
            for i in ids
        ]
        table = pa.table(
            {
                "url": [f"https://example.org/doc/{i}" for i in ids],
                "warc_ts": [ts] * DOCS_PER_FILE,
                "html": html,
                "text": [None] * DOCS_PER_FILE,
                "lang": ["en"] * DOCS_PER_FILE,
            },
            schema=schema,
        )
        pq.write_table(table, path / f"part-{k:05d}.parquet")
    return N_FILES * DOCS_PER_FILE


def _data_files(part_dir):
    return [p for p in part_dir.iterdir() if p.is_file() and not p.name.startswith((".", "_"))]


def test_one_file_per_part_and_noop_rerun(spark, tmp_path):
    pages_path = tmp_path / "pages"
    n_docs = _write_pages(pages_path)
    results_path = str(tmp_path / "results")
    manifest_path = str(tmp_path / "manifest")
    pages = spark.read.parquet(str(pages_path))
    assert pages.rdd.getNumPartitions() >= 2

    run_with_checkpoint(spark, pages, str(pages_path), results_path, manifest_path, N_PARTS)

    part_dirs = sorted((tmp_path / "results").glob("part_hash=*"))
    assert part_dirs
    assert {d.name: len(_data_files(d)) for d in part_dirs} == {d.name: 1 for d in part_dirs}

    results = spark.read.parquet(results_path)
    manifested = spark.read.parquet(manifest_path).agg(F.sum("doc_count")).first()[0]
    assert manifested == results.count() == results.select("url").distinct().count() == n_docs

    # every part is manifested: the rerun must return before it scans
    # the pages, so it succeeds even with the pages files gone
    commit = latest_commit(spark, manifest_path)
    shutil.rmtree(pages_path)
    metrics = ExtractionMetrics.create(spark)
    run_with_checkpoint(
        spark, pages, str(pages_path), results_path, manifest_path, N_PARTS, metrics=metrics
    )
    assert metrics.docs.value == 0
    assert latest_commit(spark, manifest_path) == commit


def test_manifest_probes_read_uris(spark, tmp_path):
    manifest = tmp_path / "manifest"
    for path in (str(manifest), manifest.as_uri()):
        assert not manifest_present(spark, path)
        assert completed_parts(spark, path, "snap") is None
        assert latest_commit(spark, path) == 0

    spark.range(1).selectExpr(
        "'snap' as input_snapshot_id", "2 as part_hash", "cast(3 as long) as commit_seq"
    ).write.parquet(str(manifest))
    for path in (str(manifest), manifest.as_uri()):
        assert manifest_present(spark, path)
        assert [r["part_hash"] for r in completed_parts(spark, path, "snap").collect()] == [2]
        assert latest_commit(spark, path) == 3
