"""sources/tables.py: the one reader of the registry's corpus tables.

Its declared schemas must be what Spark infers from the driver's files
and from the benchmark's own tables; a column missing from a file reads
as null and a type Spark cannot read fails the scan; a read (and
building a query over it) starts no Spark job; and no other module
spells a table's path.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from ocr_service_spark.sources.tables import SCHEMAS, read_table

ROOT = Path(__file__).resolve().parents[1]
SF_DIRS = sorted(str(p) for p in Path("/root/testdata").glob("sf*"))
NO_SF_DIR = pytest.param(
    None, marks=pytest.mark.skip(reason="no /root/testdata/sf* table directory")
)


def _inferred(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").schema


@pytest.mark.parametrize("sf_dir", SF_DIRS or [NO_SF_DIR])
def test_declared_schemas_match_the_driver_tables(spark, sf_dir):
    for name in SCHEMAS:
        assert read_table(spark, sf_dir, name).schema == _inferred(spark, sf_dir, name), name


def test_declared_schemas_match_the_benchmark_tables(spark, tmp_path):
    from perfbench import corpus

    corpus.registry_tables(3, tmp_path, n_docs=20, n_vecs=10, n_lines=50)
    for name in ("documents", "embeddings", "lineitem"):
        assert read_table(spark, tmp_path, name).schema == _inferred(spark, tmp_path, name), name


def test_a_missing_column_reads_null_and_a_foreign_type_fails(spark, tmp_path):
    spark.createDataFrame([(1, "a b")], "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    rows = read_table(spark, tmp_path, "documents").collect()
    assert [r.asDict() for r in rows] == [
        {"doc_id": 1, "text": "a b", "lang": None, "source": None, "n_chars": None}
    ]
    spark.createDataFrame(
        [("x", [0.5], 1)], "vec_id string, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        read_table(spark, tmp_path, "embeddings").collect()


@pytest.mark.skipif(not SF_DIRS, reason="no /root/testdata/sf* table directory")
def test_reads_and_a_query_build_start_no_job(spark):
    import __spark_entry__ as entry

    sc = spark.sparkContext
    group = "test_registry_tables_no_job"
    sc.setJobGroup(group, group)
    try:
        for name in SCHEMAS:
            read_table(spark, SF_DIRS[0], name)
        entry.queries()["q01_pricing_summary"](spark, SF_DIRS[0])
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_only_the_reader_spells_a_table_path():
    home = ROOT / "ocr_service_spark" / "sources" / "tables.py"
    table_path = re.compile(r"/(%s)\.parquet" % "|".join(SCHEMAS))
    files = [*sorted((ROOT / "ocr_service_spark").rglob("*.py")), ROOT / "__spark_entry__.py"]
    offenders = [
        f"{path.relative_to(ROOT)}:{i}"
        for path in files
        if path != home
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if table_path.search(line)
    ]
    assert not offenders, offenders
