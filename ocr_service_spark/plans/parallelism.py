"""The fan-out rule: one definition of how a compute-bound builder gets
its task count.

Every corpus table (``documents.parquet``, ``embeddings.parquet``, read
through ``sources.tables.read_table``) lands as ONE small parquet file,
i.e. one input split, so a map-only plan over a scan runs on a single
task however many cores the cluster has. A
builder whose per-row work is expensive (regex batteries, page or media
synthesis feeding a real parser, hashing, vector kernels) therefore
spreads its input to ``defaultParallelism`` tasks first.

The width is always explicit. AQE coalesces an unsized shuffle by its
bytes, and a few-KB input (a doc_id projection, a shard key) collapses
back to one task; a user-specified ``repartition(n, ...)`` plans a
``REPARTITION_BY_NUM`` exchange, which AQE leaves alone. A keyed
fan-out (``fan_out(df, "shard")``) also lets a following
``groupBy(keys)`` reuse the partitioning without a second exchange.

The second use of a keyed fan-out is one writer per output partition:
before a ``partitionBy(key)`` write, ``fan_out(df, key)`` puts every
row of one key in one task, so the write lands one file per partition
directory instead of one per (task, key) pair
(``manifest.run_with_checkpoint``'s results by ``part_hash``).

The cost is not zero at scale: ``repartition(n)`` ALWAYS plans a full
exchange (round-robin when keyless), so on a 100 TB table with real
splits it shuffles every row it is handed. That is why callers narrow
first (``documents(spark, sf_dir, "doc_id")``) and only the projection
crosses the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ocr_service_spark.sources.tables import read_table


def fan_out_width(spark: SparkSession) -> int:
    """The task count ``fan_out`` spreads to: ``defaultParallelism``."""
    return spark.sparkContext.defaultParallelism


def fan_out(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Repartition ``df`` to ``fan_out_width`` tasks: round-robin when
    keyless, hash-partitioned by ``keys`` otherwise (see the module
    docstring for the rule and its cost)."""
    return df.repartition(fan_out_width(df.sparkSession), *keys)


def documents(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The documents table, narrowed to ``cols`` when any are given,
    fanned out. The projection runs before the exchange, so only the
    selected columns are shuffled."""
    docs = read_table(spark, sf_dir, "documents")
    return fan_out(docs.select(*cols) if cols else docs)
