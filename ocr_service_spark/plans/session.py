"""SparkSession builder with the engine's tuned defaults.

Replaces the reference's process/worker plumbing (gunicorn workers ×
LibreOffice port pool, SURVEY.md §2.6): Spark's cluster manager owns
all parallelism. Confs are chosen for a 100 TB-scale batch extraction
job and work identically on local[N]:

- AQE on (runtime coalescing + skew-join splitting);
- Arrow self-destruct + a bounded records-per-batch so wide binary
  payload batches don't blow Python-worker memory;
- 128 MB file-split target so huge parquet files still parallelize;
- task reaper semantics come from task retries (spark.task.maxFailures)
  rather than the reference's hang-killer threads (utils/utils.py:501-536).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import SparkSession


def drop_zip_finders() -> None:
    """Drop every cached zip finder from ``sys.path_importer_cache``.

    Call it first thing in a Python task body. At each task start the
    worker calls ``importlib.invalidate_caches()``
    (``pyspark/worker_util.py::setup_spark_files``), and on Python 3.11
    that re-reads the whole central directory of every cached
    ``zipimporter``: ``pyspark.zip``, the Spark jar on the worker's
    ``sys.path``, py4j and the shipped package zip: ~60 ms of a ~75 ms
    task start for a warm extraction worker on a 4-core box. The next
    import that needs a dropped finder gets it back from the path hook,
    which reuses ``zipimport._zip_directory_cache`` without a re-read.

    That cache is never stale because none of these archives changes
    while a worker lives: ``pyspark.zip`` and the jar are the install,
    and ``_package_zip`` writes a pid-unique name that ``addPyFile``
    copies into a per-context ``userFiles-*`` directory. A worker's first
    task recreates finders through lazy imports, so one call per body
    (not once at import) keeps the cache empty for the next task.
    """
    cache = sys.path_importer_cache
    for path in [p for p, finder in cache.items() if isinstance(finder, zipimport.zipimporter)]:
        cache.pop(path, None)


def _package_zip() -> str:
    """Zip the ocr_service_spark package for executor shipping.

    Mirrors ``spark-submit --py-files engine.zip`` (the north rule's
    deployment shape) so executor Python workers can import the
    package no matter what the driver's cwd/sys.path look like.
    """
    pkg_root = Path(__file__).resolve().parents[1]
    out = Path(tempfile.gettempdir()) / f"ocr_service_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as zf:
        for path in sorted(pkg_root.rglob("*.py")):
            zf.write(path, Path(pkg_root.name) / path.relative_to(pkg_root))
    return str(out)


def build_session(
    app_name: str = "ocr-service-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` — used by the
    scaling bench to run ``local-cluster[n,cores,mem]`` (real separate
    executor JVMs, the closest single-box stand-in for N executors)."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # every NTZ->TIMESTAMP cast in the engine (streaming watermarks,
        # session windows) assumes UTC wall-clock; enforce it so results
        # are identical no matter the host's TZ / DST rules
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv6Addresses=false")
        # tesseract-style native libs must not thread under Spark's
        # parallelism (docker-compose.base.yml:35 pins OMP_THREAD_LIMIT=1)
        .config("spark.executorEnv.OMP_THREAD_LIMIT", "1")
    )
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    # ship the engine to executor Python workers (spark-submit --py-files
    # equivalent; required whenever the driver isn't launched from the
    # repository root)
    spark.sparkContext.addPyFile(_package_zip())
    return spark
