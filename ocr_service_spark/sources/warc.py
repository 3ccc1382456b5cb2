"""WARC shards -> records DataFrame (the Common Crawl ingest source).

Production shape at 100 TB: ``spark.read.format("binaryFile")`` over
the crawl's ``*.warc.gz`` files (Common Crawl ships ~1 GB per file),
then ``read_warc`` — one task per file, because gzip members are a
sequential walk within a file but files are embarrassingly parallel;
that per-file parallelism is exactly how production WARC readers
scale, and it is why the writer emits ONE GZIP MEMBER PER RECORD
(the reader never decompresses more than it needs). The parse itself
(extraction/warc.py) is stdlib-only and runs as one per-row Python
stage (``plans/rows.py::map_rows``), a file's records exploded inside it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ocr_service_spark.plans.rows import map_rows

RECORD_FIELDS = (
    "warc_type string, url string, warc_ts string, status int, "
    "content_type string, payload binary"
)


def read_warc(
    blobs: DataFrame, data_col: str = "data", id_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(id_cols..., data binary) -> one row per WARC record:
    id_cols + (warc_type, url, warc_ts, status, content_type, payload).
    ``id_cols`` (e.g. the source file path or shard id) are copied
    onto every record for provenance."""
    ids = [f for f in blobs.schema.fields if f.name in id_cols]
    schema = "".join(f"{f.name} {f.dataType.simpleString()}, " for f in ids) + RECORD_FIELDS
    fields = ("warc_type", "url", "warc_ts", "status", "content_type", "payload")

    def records(*values):
        from ocr_service_spark.extraction.warc import warc_to_pages

        *id_values, data = values
        pages = warc_to_pages(bytes(data) if data is not None else b"")
        return [(*id_values, *(page[c] for c in fields)) for page in pages]

    return map_rows(blobs.select(*(f.name for f in ids), data_col), records, schema)
