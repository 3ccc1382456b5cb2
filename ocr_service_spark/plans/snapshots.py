"""Snapshot log over the lineage manifest: time travel + rollback.

The north star frames the results store as an Iceberg table; Iceberg's
operational surface is snapshots — every commit appends a manifest
list, readers pin a snapshot, and rollback is a metadata-only pointer
move. This module provides that surface over the existing
per-partition lineage manifest (plans/manifest.py), which already IS a
manifest list: one row per completed partition, appended strictly
after the partition's data files land.

- a **commit** is one ``run_with_checkpoint`` invocation that
  completed >=1 new partition; its manifest rows share a
  ``commit_seq`` (monotone, driver-assigned — single-writer, like an
  Iceberg catalog's optimistic lock);
- ``read_as_of(commit_seq)`` reads only partitions manifested at or
  before that commit. Because results are laid out
  ``partitionBy(part_hash)``, the part filter is partition pruning —
  an as-of read scans exactly the files that existed at that commit,
  never a snapshot copy;
- ``rollback(commit_seq)`` drops manifest rows newer than the commit
  (staged rewrite + atomic rename). Data files of rolled-back
  partitions become unreferenced — exactly Iceberg's rollback
  semantics (orphans wait for maintenance) — and the resume anti-join
  keys off the manifest, so the next run RECOMPUTES rolled-back
  partitions and overwrites their files in place.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# read_as_of: largest snapshot part list inlined as an IN literal;
# larger lists become a broadcast semi-join (see read_as_of docstring)
AS_OF_MAX_INLINE_PARTS = 10_000


def recover_manifest_swaps(manifest_path: str) -> None:
    """Heal an interrupted rollback/compaction swap before any read:
    a crash between the two renames leaves a backup dir and NO
    manifest, which a blind read would misinterpret as 'no history'
    (silent full recompute + commit_seq restart)."""
    from ocr_service_spark.plans.maintenance import recover_interrupted_swap

    for suffix in ("__prerollback", "__precompact"):
        recover_interrupted_swap(manifest_path, suffix)


def manifest_present(spark: SparkSession, manifest_path: str) -> bool:
    """Whether the manifest directory exists (after healing an
    interrupted swap). The probe goes through the path's Hadoop
    FileSystem, so local paths and scheme-qualified URIs (``file:/``,
    ``hdfs://``) answer alike. Only a missing path means absent: any
    other IO failure propagates, like a failing read. Probing first
    keeps a first run from a failing ``spark.read`` and the WARN stack
    trace Spark logs for it."""
    recover_manifest_swaps(manifest_path)
    path = spark._jvm.org.apache.hadoop.fs.Path(manifest_path)
    return bool(path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path))


def _read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Schema-migrating manifest read: manifests written before the
    snapshot layer lack ``commit_seq``, and a plain parquet read of a
    mixed directory can silently pick the OLD schema and drop the
    column — so read with mergeSchema and coalesce the pre-snapshot
    rows to commit 0 (the "before history began" snapshot, readable
    by every as-of query)."""
    recover_manifest_swaps(manifest_path)
    manifest = spark.read.option("mergeSchema", "true").parquet(manifest_path)
    if "commit_seq" not in manifest.columns:
        return manifest.withColumn("commit_seq", F.lit(0).cast("long"))
    return manifest.withColumn(
        "commit_seq", F.coalesce(F.col("commit_seq"), F.lit(0)).cast("long")
    )


def latest_commit(spark: SparkSession, manifest_path: str) -> int:
    """Highest commit_seq in the manifest (0 when absent/empty).

    Only a MISSING directory or an unreadable-as-a-table manifest
    (AnalysisException: no parquet to infer from) maps to 0. A transient
    IO error must PROPAGATE: swallowing it would restart commit_seq at
    1 and append duplicate lineage rows under a reused snapshot id."""
    from pyspark.errors import AnalysisException

    if not manifest_present(spark, manifest_path):
        return 0
    try:
        manifest = _read_manifest(spark, manifest_path)
        row = manifest.agg(F.max("commit_seq").alias("m")).collect()[0]
        return int(row["m"]) if row["m"] is not None else 0
    except AnalysisException:
        return 0


def snapshot_log(spark: SparkSession, manifest_path: str) -> DataFrame:
    """One row per commit: (commit_seq, n_parts, doc_count,
    completed_ts) — the `.snapshots` metadata-table equivalent."""
    manifest = _read_manifest(spark, manifest_path)
    return (
        manifest.groupBy("commit_seq")
        .agg(
            F.countDistinct("part_hash").alias("n_parts"),
            F.sum("doc_count").alias("doc_count"),
            F.max("completed_ts").alias("completed_ts"),
        )
        .orderBy("commit_seq")
    )


def read_as_of(
    spark: SparkSession,
    results_path: str,
    manifest_path: str,
    commit_seq: int | None = None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """The results table as of a commit (default: latest).

    The part list for the pinned commit is small (<= n_parts rows,
    collected driver-side like an Iceberg manifest-list read) and
    becomes an IN filter on the partition column — Spark prunes the
    non-member part directories at planning time, so the scan touches
    exactly the files the pinned snapshot references. Past
    ``AS_OF_MAX_INLINE_PARTS`` distinct parts the literal IN list
    would bloat the plan (10^6 partitions -> a 10^6-literal predicate
    compiled into codegen), so the filter switches to a broadcast
    left-semi join against the manifest projection: no driver
    collection, same pruned semantics, scale-safe.
    """
    manifest = _read_manifest(spark, manifest_path)
    if snapshot_id is not None:
        manifest = manifest.filter(F.col("input_snapshot_id") == snapshot_id)
    if commit_seq is not None:
        manifest = manifest.filter(F.col("commit_seq") <= commit_seq)
    part_df = manifest.select("part_hash").distinct()
    results = spark.read.parquet(results_path)
    parts = [r["part_hash"] for r in part_df.limit(AS_OF_MAX_INLINE_PARTS + 1).collect()]
    if not parts:
        return results.filter(F.lit(False))
    if len(parts) <= AS_OF_MAX_INLINE_PARTS:
        return results.filter(F.col("part_hash").isin(parts))
    return results.join(F.broadcast(part_df), "part_hash", "left_semi")


def rollback(spark: SparkSession, manifest_path: str, commit_seq: int) -> int:
    """Drop every manifest row newer than ``commit_seq``; returns the
    number of partition entries removed. Staged rewrite + two renames
    (same crash-safety pattern as maintenance.compact_parquet): the
    manifest stays readable until the swap instant, and a crash leaves
    either the old or the new manifest, never a half-written one."""
    manifest = _read_manifest(spark, manifest_path)
    keep = manifest.filter(F.col("commit_seq") <= commit_seq)
    dropped = manifest.count() - keep.count()
    if dropped == 0:
        return 0
    staging = manifest_path.rstrip("/") + "__rollback"
    backup = manifest_path.rstrip("/") + "__prerollback"
    # keep must be MATERIALIZED before the source renames away (the
    # staging write below does that); a crash between the two renames
    # leaves backup-without-manifest, which recover_manifest_swaps
    # (run by every manifest read) restores — the rollback simply
    # didn't happen, rather than history silently vanishing
    keep.coalesce(1).write.mode("overwrite").parquet(staging)
    os.rename(manifest_path, backup)
    os.rename(staging, manifest_path)
    shutil.rmtree(backup)
    return dropped
