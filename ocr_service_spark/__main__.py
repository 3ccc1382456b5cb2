"""CLI entry point — the batch job as a submittable script.

Local:
    python -m ocr_service_spark --pages <dir> --results <dir> --manifest <dir>

Cluster (the north-rule deployment shape):
    spark-submit --py-files ocr_service_spark.zip run_job.py ...
    (any driver script that calls plans.manifest.run_with_checkpoint;
    this module doubles as that script when the package is on the path)

The job is resumable: re-running with the same manifest dir skips
completed partitions via the broadcast anti-join.

Operational subcommands (the snapshot/maintenance surface):

    python -m ocr_service_spark snapshots --manifest <dir>
    python -m ocr_service_spark rollback  --manifest <dir> --to <seq>
    python -m ocr_service_spark compact   --path <dir> [--target-mb 256]
    python -m ocr_service_spark merge     --store <dir> --batch <dir> --out <dir>

Each prints one JSON line, like the run path.
"""

from __future__ import annotations

import argparse
import json

_SUBCOMMANDS = {"snapshots", "rollback", "compact", "merge"}


def run_ops(spark, args: argparse.Namespace) -> dict:
    """Execute one ops subcommand against a caller-owned session.

    Split from ``_ops_main`` so tests can drive the exact CLI code path
    in-process without the session build/stop around it.
    """
    if args.cmd == "snapshots":
        from ocr_service_spark.plans.snapshots import snapshot_log

        log = [r.asDict() for r in snapshot_log(spark, args.manifest).collect()]
        for row in log:
            row["completed_ts"] = str(row["completed_ts"])
        return {"status": "ok", "snapshots": log}
    if args.cmd == "rollback":
        from ocr_service_spark.plans.snapshots import latest_commit, rollback

        dropped = rollback(spark, args.manifest, args.to)
        return {
            "status": "ok", "dropped_entries": dropped,
            "latest_commit": latest_commit(spark, args.manifest),
        }
    if args.cmd == "merge":
        from pyspark.sql import functions as F

        from ocr_service_spark.operators.weburl import merge_fetch_batch

        store = spark.read.parquet(args.store)
        batch = spark.read.parquet(args.batch)
        merge_fetch_batch(store, batch).write.mode("overwrite").parquet(args.out)
        # count from the written table so the merge computes once; at
        # production scale the write targets the store's url-buckets
        # via dynamic-partition overwrite instead of a fresh dir
        counts = {
            r["action"]: r["n"]
            for r in spark.read.parquet(args.out)
            .groupBy("action")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return {
            "status": "ok",
            "out": args.out,
            "n_keep": counts.get("keep", 0),
            "n_update": counts.get("update", 0),
            "n_insert": counts.get("insert", 0),
        }
    from ocr_service_spark.plans.maintenance import compact_parquet

    before, after = compact_parquet(spark, args.path, target_mb=args.target_mb)
    return {"status": "ok", "files_before": before, "files_after": after}


def parse_ops_args(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(prog="ocr_service_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    p_snap = sub.add_parser("snapshots", help="print the commit log")
    p_snap.add_argument("--manifest", required=True)
    p_roll = sub.add_parser("rollback", help="drop commits newer than --to")
    p_roll.add_argument("--manifest", required=True)
    p_roll.add_argument("--to", type=int, required=True)
    p_comp = sub.add_parser("compact", help="rewrite a parquet dir to target-size files")
    p_comp.add_argument("--path", required=True)
    p_comp.add_argument("--target-mb", type=int, default=256)
    p_merge = sub.add_parser(
        "merge", help="MERGE a fetch batch (url, host, content_hash, gone) into a store"
    )
    p_merge.add_argument("--store", required=True)
    p_merge.add_argument("--batch", required=True)
    p_merge.add_argument("--out", required=True)
    for p in (p_snap, p_roll, p_comp, p_merge):
        p.add_argument("--cpus", type=int, default=None)
    return parser.parse_args(argv)


def _ops_main(argv: list[str]) -> None:
    args = parse_ops_args(argv)

    from ocr_service_spark.plans.session import build_session

    spark = build_session(app_name=f"ocr-service-spark-{args.cmd}", cpus=args.cpus)
    spark.sparkContext.setLogLevel("WARN")
    try:
        print(json.dumps(run_ops(spark, args)))
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> None:
    import sys as _sys

    argv = list(_sys.argv[1:]) if argv is None else list(argv)
    if argv and argv[0] in _SUBCOMMANDS:
        _ops_main(argv)
        return
    from ocr_service_spark.plans.manifest import DEFAULT_N_PARTS, run_with_checkpoint

    parser = argparse.ArgumentParser(prog="ocr_service_spark")
    parser.add_argument("--pages", required=True, help="input pages table (parquet dir)")
    parser.add_argument("--results", required=True, help="output results table")
    parser.add_argument("--manifest", required=True, help="checkpoint manifest table")
    parser.add_argument("--mode", default="NO_OCR", choices=["NO_OCR", "OCR"])
    parser.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    parser.add_argument("--n-parts", type=int, default=DEFAULT_N_PARTS)
    args = parser.parse_args(argv)

    from ocr_service_spark.operators.metrics import ExtractionMetrics
    from ocr_service_spark.plans.session import build_session
    from ocr_service_spark.sources.pages import read_pages

    spark = build_session(app_name="ocr-service-spark-job", cpus=args.cpus)
    spark.sparkContext.setLogLevel("WARN")
    metrics = ExtractionMetrics.create(spark)
    pages = read_pages(spark, args.pages)
    run_with_checkpoint(
        spark,
        pages,
        args.pages,
        args.results,
        args.manifest,
        n_parts=args.n_parts,
        metrics=metrics,
        mode=args.mode,
    )
    print(json.dumps({"status": "ok", "metrics": metrics.snapshot()}))
    spark.stop()


if __name__ == "__main__":
    main()
