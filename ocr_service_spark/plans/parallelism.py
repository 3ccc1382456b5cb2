"""The fan-out rule: one definition of how a compute-bound builder gets
its task count.

Every corpus table (``documents.parquet``, ``embeddings.parquet``) lands
as ONE small parquet file, i.e. one input split, so a map-only plan over
a scan runs on a single task however many cores the cluster has. A
builder whose per-row work is expensive (regex batteries, page or media
synthesis feeding a real parser, hashing, vector kernels) therefore
spreads its input to ``defaultParallelism`` tasks first.

The width is always explicit. AQE coalesces an unsized shuffle by its
bytes, and a few-KB input (a doc_id projection, a shard key) collapses
back to one task; a user-specified ``repartition(n, ...)`` plans a
``REPARTITION_BY_NUM`` exchange, which AQE leaves alone. A keyed
fan-out (``fan_out(df, "shard")``) also lets a following
``groupBy(keys)`` reuse the partitioning without a second exchange.

The cost is not zero at scale: ``repartition(n)`` ALWAYS plans a full
exchange (round-robin when keyless), so on a 100 TB table with real
splits it shuffles every row it is handed. That is why callers narrow
first (``documents(spark, sf_dir, "doc_id")``) and only the projection
crosses the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession


def fan_out(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` tasks: round-robin
    when keyless, hash-partitioned by ``keys`` otherwise (see the
    module docstring for the rule and its cost)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def documents(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The documents table, narrowed to ``cols`` when any are given,
    fanned out. The projection runs before the exchange, so only the
    selected columns are shuffled."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fan_out(docs.select(*cols) if cols else docs)
