"""Checkpoint manifest + resume (north rule: per-partition lineage).

The job checkpoints progress to a manifest table so a killed run
resumes by anti-joining completed partitions (FIXTURES.md A3):

    manifest(input_snapshot_id string, part_hash int, doc_count long,
             empty_text_count long, conf_histogram array<long>,
             completed_ts timestamp, commit_seq long)

``commit_seq`` groups the rows of one completing run into a snapshot;
plans/snapshots.py builds the Iceberg-style surface on it (snapshot
log, as-of reads with partition pruning, rollback).

Design (parquet directories standing in for Iceberg tables — the same
flow maps 1:1 onto Iceberg snapshots + MERGE when a catalog is
configured):

- ``part_hash = pmod(xxhash64(url), n_parts)`` — a deterministic,
  uniformly distributed partition key independent of input layout;
- results are written with dynamic partition overwrite per part_hash,
  so re-processing a partially-written part is idempotent (the crash
  window between results-write and manifest-append re-runs that part
  and replaces its files);
- one writer per part: the results are hash-partitioned on part_hash
  (``fan_out``) before the write, so one run writes ONE file per part
  directory for the price of one shuffle of result rows; writing
  straight from the scan tasks would open a writer per part in every
  task, tasks x n_parts small files (and read-back listings) per run;
- the manifest row for a part is appended only after the part's
  results hit storage; manifest content (doc_count, empty-text count,
  confidence decile histogram) is aggregated by reading back the
  written results — no second extraction pass, no driver-side data;
- resume = left_anti join of pages against completed part_hashes for
  this input snapshot.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.plans.parallelism import fan_out

DEFAULT_N_PARTS = 64


def with_part_hash(
    df: DataFrame, n_parts: int = DEFAULT_N_PARTS, hash_expr: Column | None = None
) -> DataFrame:
    """xxhash64(url) by default (fastest, engine-internal); callers that
    need a cross-engine-reproducible lineage key (e.g. the q56 driver
    oracle) can pass any deterministic bigint expression instead."""
    h = hash_expr if hash_expr is not None else F.xxhash64("url")
    return df.withColumn("part_hash", F.pmod(h, F.lit(n_parts)).cast("int"))


def input_snapshot_id(pages_path: str, n_parts: int = DEFAULT_N_PARTS) -> str:
    """Stable identity of the input snapshot (Iceberg snapshot id when
    cataloged; path+layout hash here)."""
    return f"{pages_path}::parts={n_parts}"


def completed_parts(
    spark: SparkSession, manifest_path: str, snapshot_id: str
) -> DataFrame | None:
    """None only when no manifest table exists yet (first run). A
    transient IO failure must PROPAGATE — treating it as 'no history'
    would silently recompute the entire input (a multi-day job at the
    design scale) and append duplicate lineage rows."""
    from pyspark.errors import AnalysisException

    from ocr_service_spark.plans.snapshots import manifest_present

    if not manifest_present(spark, manifest_path):
        return None
    try:
        manifest = spark.read.parquet(manifest_path)
    except AnalysisException:
        return None
    return (
        manifest.filter(F.col("input_snapshot_id") == snapshot_id)
        .select("part_hash")
        .distinct()
    )


def resume_filter(
    pages: DataFrame,
    done: DataFrame | None,
    n_parts: int = DEFAULT_N_PARTS,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Drop documents whose partition is already manifested; ``done``
    is ``completed_parts``' frame (None before the first commit).

    The completed-part set is tiny (≤ n_parts rows): the anti-join is
    broadcast, so resume costs one scan-side hash probe, no shuffle.
    """
    pages = with_part_hash(pages, n_parts, hash_expr)
    if done is None:
        return pages
    return pages.join(F.broadcast(done), "part_hash", "left_anti")


def manifest_from_results(results: DataFrame, snapshot_id: str) -> DataFrame:
    """Aggregate per-part lineage from (already written) results."""
    decile = F.least(F.floor(F.coalesce(F.col("confidence"), F.lit(0.0)) * 10), F.lit(9))
    return (
        results.groupBy("part_hash")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(
                F.when(F.length(F.coalesce("extracted_text", F.lit(""))) == 0, 1).otherwise(0)
            ).alias("empty_text_count"),
            # confidence decile histogram (OCR tier; all-null confidences
            # land in decile 0 by the coalesce — recorded for parity with
            # FIXTURES.md A3 even in NO_OCR runs). Ten conditional sums:
            # map-side partial aggregation, no per-part value lists.
            F.array(
                *[
                    F.sum(F.when(decile == d, 1).otherwise(0)).cast("long")
                    for d in range(10)
                ]
            ).alias("conf_histogram"),
        )
        .withColumn("input_snapshot_id", F.lit(snapshot_id))
        # aware-UTC now: a naive local datetime would be reinterpreted
        # as UTC by the session's pinned timeZone and skew completed_ts
        # by the host's offset (non-monotone across drivers)
        .withColumn("completed_ts", F.lit(dt.datetime.now(dt.timezone.utc)))
    )


def run_with_checkpoint(
    spark: SparkSession,
    pages: DataFrame,
    pages_path: str,
    results_path: str,
    manifest_path: str,
    n_parts: int = DEFAULT_N_PARTS,
    hash_expr: Column | None = None,
    **extract_kwargs,
) -> None:
    """Resumable extraction: skip manifested parts, write results with
    per-part overwrite, then append the manifest rows. A rerun whose
    every part is manifested returns before scanning the pages."""
    from ocr_service_spark.plans.job import run_extraction
    from ocr_service_spark.plans.snapshots import AS_OF_MAX_INLINE_PARTS, latest_commit

    # the done set is read once, up front: the manifest is single-writer,
    # so nothing appends to it between here and the read-back below
    snapshot_id = input_snapshot_id(pages_path, n_parts)
    done = completed_parts(spark, manifest_path, snapshot_id)
    # (at most n_parts rows: part_hash < n_parts within one snapshot)
    done_list = [] if done is None else [r["part_hash"] for r in done.collect()]
    if len(done_list) >= n_parts:
        return
    todo = resume_filter(pages, done, n_parts, hash_expr)

    results = run_extraction(todo, **extract_kwargs)
    results = with_part_hash(results, n_parts, hash_expr)

    # one writer per part (module docstring): one file per part dir,
    # and the extraction stage no longer hosts the write
    (
        fan_out(results, "part_hash")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_hash")
        .parquet(results_path)
    )

    # lineage is aggregated from what actually landed on storage; the
    # already-manifested parts are excluded with a LITERAL NOT-IN on
    # the partition column (the done set is <= n_parts values) so the
    # scan PRUNES their directories — an anti-join cannot prune, and
    # would re-read every part's row groups on each incremental
    # resume. Past AS_OF_MAX_INLINE_PARTS distinct parts the literal
    # list would bloat the compiled plan (same failure mode as
    # snapshots.read_as_of), so the exclusion switches to a broadcast
    # left-anti join: no directory pruning, but the downstream
    # manifest aggregation projects only the lineage columns, so
    # parquet column pruning keeps the re-read to metadata-sized
    # columns rather than text payloads.
    # the schema is known: reading with it skips the inference job
    written = spark.read.schema(results.schema).parquet(results_path)
    if len(done_list) > AS_OF_MAX_INLINE_PARTS:
        written = written.join(F.broadcast(done), "part_hash", "left_anti")
    elif done_list:
        written = written.filter(~F.col("part_hash").isin(done_list))

    commit_seq = latest_commit(spark, manifest_path) + 1
    (
        manifest_from_results(written, snapshot_id)
        .withColumn("commit_seq", F.lit(commit_seq).cast("long"))
        .write.mode("append")
        .parquet(manifest_path)
    )
