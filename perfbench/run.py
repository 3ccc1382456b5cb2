#!/usr/bin/env python3
"""spark-extract benchmark: one workload per invocation.

    python3 perfbench/run.py --workload webmix --seed 1 --seconds 10 --trace 0

Run from the root of a repository checkout. The corpus is built from
``--seed``; the workload's job then runs in a closed loop for
``--seconds``; its outputs are checked against the single-document
reference (``extract_document``) outside the timed region. The last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (event log + single-process pass; see METRICS.md),
each exactly as ``BENCHMARK.json`` lists them; a per-layer metric that
does not apply to the workload reads 0.
Scratch files stay under ``.perfbench_work/`` in the checkout; a
per-run report with the environment, job times and spans is kept in
``.perfbench_work/reports/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("webmix", "pdfskew", "ocr_scan", "registry")

sys.path.insert(1, str(ROOT))


def _isolate_scratch(run_dir: Path) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM
    into the checkout (set before the JVM starts)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    tempfile.tempdir = None


def _cpus() -> tuple[int, int]:
    """(nproc, Spark cores): never more cores than this process may use."""
    nproc = len(os.sched_getaffinity(0))
    requested = os.environ.get("SPARK_GRAFT_CPUS")
    return nproc, min(nproc, int(requested)) if requested else nproc


def _source_id() -> dict:
    files = sorted((ROOT / "ocr_service_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    digest = hashlib.sha256()
    for path in files:
        digest.update(path.relative_to(ROOT).as_posix().encode())
        digest.update(path.read_bytes())
    commit = None
    if (ROOT / ".git").exists():
        proc = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = proc.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": digest.hexdigest()}


def listed(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics ``BENCHMARK.json`` lists for a run."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "ocr_service_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no spark-extract sources under {ROOT}", file=sys.stderr)
        return 2

    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    _isolate_scratch(run_dir)
    nproc, cpus = _cpus()

    import pyspark

    import workloads
    from ocr_service_spark.extraction.ocr_engine import engine_name
    from procs import shutdown_spark, stop_children

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_graft_cpus": cpus,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "ocr_engine": engine_name(),
        **_source_id(),
    }
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), cpus, run_dir)
    started = time.perf_counter()
    try:
        if args.workload == "registry":
            metrics, report = workloads.run_registry_workload(run, env)
        else:
            metrics, report = workloads.run_extraction_workload(run, env)
    finally:
        shutdown_spark()
        stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    run.span("run", started)

    units = listed(bool(args.trace))
    values = {name: 0.0 for name in units} | metrics if args.trace else metrics
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()
        },
    }
    reports = WORK / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    (reports / f"{run_dir.name}.json").write_text(
        json.dumps(
            {"env": env, "result": result, "computed": metrics, **report, "spans": run.spans},
            indent=1,
        )
    )
    print("perfbench env " + json.dumps(env, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
