"""Per-stage metrics via Spark accumulators (operator P5).

The reference times each request (processor.py:85-89); at batch scale
the equivalents are job-level counters the driver can read after an
action: documents processed, empty-text results, payload bytes in, and
extraction wall-milliseconds (a float, summed across tasks — divide by
executor count for wall-clock; per-document integer truncation would
undercount a 1-2 ms mean). The accumulators serialize into the
pandas-UDF closures, so they cost nothing on the hot path beyond an add
per document.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession


@dataclass
class ExtractionMetrics:
    docs: Any
    empty_text: Any
    bytes_in: Any
    wall_ms: Any

    @classmethod
    def create(cls, spark: SparkSession) -> "ExtractionMetrics":
        sc = spark.sparkContext
        return cls(
            docs=sc.accumulator(0),
            empty_text=sc.accumulator(0),
            bytes_in=sc.accumulator(0),
            wall_ms=sc.accumulator(0.0),
        )

    def snapshot(self) -> dict[str, int | float]:
        return {
            "docs": self.docs.value,
            "empty_text": self.empty_text.value,
            "bytes_in": self.bytes_in.value,
            "wall_ms": self.wall_ms.value,
        }
