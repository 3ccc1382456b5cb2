"""Python task start-up: the extraction bodies drop the cached zip finders
that pyspark's per-task ``importlib.invalidate_caches()`` would re-read
(``plans/session.py::drop_zip_finders``), and imports still work after."""

from __future__ import annotations

from ocr_service_spark.plans.job import run_extraction

_PROBE_SCHEMA = (
    "pid long, zip_finders int, pkg_file string, pyspark_file string,"
    " pyspark_loader string, rebuilt int"
)


def test_drop_zip_finders_keeps_imports_working(spark):
    """After the drop and a cache invalidation, no zip finder is cached,
    and a fresh import of a package module and of a ``pyspark`` module
    (from ``pyspark.zip`` on the worker) still succeeds: the path hooks
    rebuild the finders they need."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        from ocr_service_spark.plans.session import drop_zip_finders

        for _ in batches:
            pass
        drop_zip_finders()
        importlib.invalidate_caches()
        zip_finders = lambda: sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        left = zip_finders()
        # modules the extraction path never imports, popped so the
        # import goes through the finders again
        for name in ("ocr_service_spark.__main__", "pyspark.find_spark_home"):
            sys.modules.pop(name, None)
        cli = importlib.import_module("ocr_service_spark.__main__")
        home = importlib.import_module("pyspark.find_spark_home")
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "zip_finders": [left],
                "pkg_file": [cli.__file__],
                "pyspark_file": [home.__file__],
                "pyspark_loader": [type(home.__loader__).__name__],
                "rebuilt": [zip_finders()],
            }
        )

    rows = spark.range(0, 2, 1, 2).mapInPandas(probe, _PROBE_SCHEMA).collect()
    assert len(rows) == 2
    for row in rows:
        assert row.zip_finders == 0, row
        assert row.pkg_file.endswith("__main__.py"), row
        assert row.pyspark_file.endswith("find_spark_home.py"), row
        if ".zip" in row.pyspark_file:
            assert row.pyspark_loader == "zipimporter", row
            assert row.rebuilt > 0, row


def test_extraction_bodies_leave_no_zip_finders(spark):
    """Once every worker has run an extraction body, the next task on
    any of them finds no zip finder to re-read at its start."""
    cores = spark.sparkContext.defaultParallelism
    docs = [
        (f"https://cache.test/{i}.html", f"<html><body><p>page {i}</p></body></html>".encode())
        for i in range(200)
    ]
    pages = spark.createDataFrame(docs, "url string, html binary")
    for _ in range(2):
        assert run_extraction(pages, repartition=4 * cores).count() == len(docs)

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        # read first: the cache as this task's start left it
        left = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "zip_finders": [left]})

    rows = spark.range(0, cores, 1, cores).mapInPandas(probe, "pid long, zip_finders int").collect()
    assert len(rows) == cores
    assert all(row.zip_finders == 0 for row in rows), rows
