"""The per-row Python stage: one definition of the Arrow batch loop.

Every parser dialect the registry applies per document (links, feeds,
sitemaps, tables, dates, markdown, media, WARC records, ...) is a pure
Python function of one row. ``map_rows`` runs such a function as one
Arrow-batched ``mapInPandas``: the explode happens inside the Python
stage (``fn`` returns any number of output rows per input row), so the
plan stays map-only with no shuffle and no JVM-side explode of a
Python-built array.

The stage owns what every such body used to repeat:

- the zip-finder prologue (``plans/session.py::drop_zip_finders``),
  once per task, so no per-row stage pays pyspark's per-task re-read of
  the cached zip directories;
- the batch loop, handing ``fn`` one input row at a time;
- the output frame: the rows' columns as ``object`` Series named from
  ``schema``, so Arrow applies the declared types (nullable ints,
  booleans, doubles, binaries and arrays included) and no body pins
  pandas dtypes of its own.

Bodies that are not per-row stay outside: the extraction bodies
(``operators/extract.py``), which keep accumulators and an opened
document across rows, and the vector kernels that run numpy over a
whole batch (``operators/similarity.py``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import _parse_datatype_string

from ocr_service_spark.plans.session import drop_zip_finders


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str) -> DataFrame:
    """Apply ``fn`` to every row of ``df``: ``fn(*values)`` gets the
    row's values in ``df``'s column order (as pandas hands them over, so
    a null is ``None``, or NaN in a numeric column) and returns the
    output rows, each a tuple in the column order of ``schema`` (a DDL
    string). Output rows keep input order."""
    names = _parse_datatype_string(schema).names

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for batch in batches:
            inputs = zip(*(batch[c] for c in batch.columns))
            rows = [out for values in inputs for out in fn(*values)]
            cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame(
                {name: pd.Series(col, dtype=object) for name, col in zip(names, cols)}
            )

    return df.mapInPandas(body, schema)
