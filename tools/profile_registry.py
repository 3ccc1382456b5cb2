#!/usr/bin/env python3
"""Registry profiler: time registered queries and read each one's cost
from the Spark event log.

Per query, in ``__spark_entry__.queries()`` order: one warm-up at
sf0.001 (JIT-warms the generated code; same plan shape, same classes),
then ``--reps`` noop writes at the bench SF, keeping the minimum wall
time. Every job runs with the ``perfbench.phase`` local property set to
``warm:<name>`` or ``<name>#<rep>``, so after the sweep the event log
gives each query's jobs, stages, tasks, executor run time, JVM CPU,
GC, shuffle write, spill, Python-worker run time and the task skew of
its heaviest stage, averaged over the measured reps. Streaming
micro-batches inherit the property, so their jobs count too.

Usage:
    python tools/profile_registry.py [name ...] [--reps 3] [--explain DIR]
                                     [--json OUT] [--diff PREV.json]

    names      queries to run (default: every registered query; the
               bench headline set is ``bench.HEADLINE_QUERIES``)
    --reps     measured noop writes per query; 0 skips timing (and the
               warm-up), e.g. for a plans-only ``--explain`` dump
    --explain  write each query's formatted physical plan to DIR/<name>.txt
    --json     also write the report to OUT
    --diff     print each query's wall ratio against PREV and name the
               new outliers

Env (read by bench.py, same contract and defaults):
    SPARK_GRAFT_SF_DIR  table dir (the sf0.1 tables by default)
    SPARK_GRAFT_CPUS    local[N] parallelism (default 32)

One JSON report goes to stdout; progress and the diff table go to
stderr. A query that raises is recorded under ``errors`` and the sweep
goes on. A query is flagged when its wall time exceeds ``FLAG_RATIO``
times the median. ``--diff`` names the queries that now exceed
``FLAG_RATIO`` times PREV's median, that PREV did not flag and that are
slower than their own PREV time by more than ``NOISE_RATIO``, the
same-code noise band (identical code swept twice moved one query
2.04x, and four queries near 4x the median across the line): PREV's
median is the yardstick, so a run over a few queries can be diffed
against a full-registry baseline (for a full sweep the two medians
agree to within noise). Diff only against reports this tool wrote, such
as the committed ``PROFILE_r07_base_*.json``: older registry reports
(``BENCH_REGISTRY_r06.json``) were timed without the event log, whose
overhead is not yet resolved, so their walls are not like for like.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from collections import Counter, defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.append(str(REPO / "perfbench"))

import eventlog  # noqa: E402
from bench import CPUS, SF_DIR  # noqa: E402
from workloads import PY_RUN, PYTHON_NODE, noop, set_phase  # noqa: E402

FLAG_RATIO = 4.0
# Same-code noise band: two sf0.01 sweeps of identical code (local[4])
# put one query at up to 2.04x its own earlier time, so --diff names a
# new outlier only when it is also slower than its PREV time by more.
NOISE_RATIO = 2.04


def measured_rep(phase: str | None) -> str | None:
    """The query name of a measured-rep phase ``<name>#<rep>``."""
    name, _, rep = (phase or "").rpartition("#")
    return name if rep.isdigit() else None


def jobs_per_query(log_dir: Path) -> Counter:
    """SparkListenerJobStart events per query over its measured reps —
    the one count ``eventlog.EventLog`` does not keep."""
    jobs: Counter = Counter()
    for path in eventlog._event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line:
                    continue
                props = json.loads(line).get("Properties") or {}
                name = measured_rep(props.get(eventlog.PHASE_PROPERTY))
                if name is not None:
                    jobs[name] += 1
    return jobs


def heaviest_stage_skew(tasks: list) -> float | None:
    """Max/median task run time of the stage with the most run time."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.run_ms)
    if not by_stage:
        return None
    times = max(by_stage.values(), key=sum)
    median = statistics.median(times)
    return max(times) / median if median else None


def query_costs(log_dir: Path, walls: dict[str, float], reps: int) -> dict[str, dict]:
    log = eventlog.read_event_log(log_dir)
    jobs = jobs_per_query(log_dir)
    tasks_of: dict[str, list] = defaultdict(list)
    for t in log.tasks:
        name = measured_rep(t.phase)
        if name is not None:
            tasks_of[name].append(t)
    costs = {}
    for name, wall in walls.items():
        tasks = tasks_of[name]
        record = {
            "wall_s": wall,
            "jobs": jobs[name] / reps,
            "stages": len({t.stage for t in tasks}) / reps,
            **eventlog.stage_totals(tasks, reps),
            "python_s": log.node_metric_sum(tasks, PYTHON_NODE, PY_RUN) / reps,
            "task_skew": heaviest_stage_skew(tasks),
        }
        costs[name] = {k: v if v is None else round(v, 4) for k, v in record.items()}
    return costs


def diff(prev: dict, now: dict[str, float]) -> list[str]:
    """Print each query's wall ratio against PREV (stderr); return the
    queries now above FLAG_RATIO x PREV's median that PREV did not flag
    and that are slower than their own PREV time by more than
    NOISE_RATIO (a query PREV did not time counts as slower)."""
    before = prev.get("queries", {})
    ratios = {q: now[q] / before[q] for q in now if before.get(q)}
    for q, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        print(f"{r:7.2f}  {before[q]:8.3f} -> {now[q]:8.3f}  {q}", file=sys.stderr)
    if ratios:
        values = sorted(ratios.values())
        print(f"ratio median {statistics.median(values):.3f} over {len(values)} queries; "
              f"min {values[0]:.3f} max {values[-1]:.3f}", file=sys.stderr)
    threshold = FLAG_RATIO * statistics.median(before.values()) if before else float("inf")
    flagged = prev.get("flagged_over_ratio", {})
    entrants = sorted(
        (q for q, v in now.items() if v > threshold and q not in flagged
         and ratios.get(q, float("inf")) > NOISE_RATIO),
        key=lambda q: -now[q],
    )
    print(f"new above {FLAG_RATIO:g}x PREV median and {NOISE_RATIO:g}x own PREV: "
          f"{entrants or 'none'}", file=sys.stderr)
    return entrants


def sweep(
    names: list[str], reps: int, explain_dir: Path | None, log_dir: Path
) -> tuple[dict[str, float], dict[str, str]]:
    """Run the queries in one event-logged session: min wall time per
    query and the errors of the queries that raised."""
    from ocr_service_spark.plans.session import build_session

    import __spark_entry__ as em

    spark = build_session(
        app_name="ocr-service-spark-profile-registry",
        cpus=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir.as_uri(),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = em.queries()
    warm_dir = Path(SF_DIR).with_name("sf0.001")
    warm_dir = str(warm_dir) if warm_dir.is_dir() else SF_DIR
    formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def run(name: str, sf_dir: str, phase: str) -> None:
        set_phase(spark, phase)
        noop(queries[name](spark, sf_dir))

    walls: dict[str, float] = {}
    errors: dict[str, str] = {}
    try:
        for name in names or list(queries):
            try:
                if explain_dir:
                    set_phase(spark, f"plan:{name}")
                    df = queries[name](spark, SF_DIR)
                    plan = df._jdf.queryExecution().explainString(formatted)
                    (explain_dir / f"{name}.txt").write_text(plan)
                if reps <= 0:
                    continue
                run(name, warm_dir, f"warm:{name}")
                best = float("inf")
                for rep in range(reps):
                    t0 = time.perf_counter()
                    run(name, SF_DIR, f"{name}#{rep}")
                    best = min(best, time.perf_counter() - t0)
                walls[name] = round(best, 3)
                print(f"{name}: {walls[name]}", file=sys.stderr, flush=True)
            except Exception as ex:  # noqa: BLE001 — record, keep sweeping
                errors[name] = f"{type(ex).__name__}: {ex}"[:300]
                print(f"{name}: ERROR {errors[name]}", file=sys.stderr, flush=True)
    finally:
        spark.stop()
    return walls, errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="query names (default: every registered query)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", metavar="DIR", type=Path)
    ap.add_argument("--json", metavar="OUT", type=Path)
    ap.add_argument("--diff", metavar="PREV", type=Path)
    args = ap.parse_args()
    if args.explain:
        args.explain.mkdir(parents=True, exist_ok=True)

    with tempfile.TemporaryDirectory(prefix="profile_registry_eventlog_") as tmp:
        walls, errors = sweep(args.names, args.reps, args.explain, Path(tmp))
        profile = query_costs(Path(tmp), walls, args.reps) if walls else {}
    med = statistics.median(walls.values()) if walls else 0.0
    report = {
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "reps": args.reps,
        "n_queries": len(walls),
        "median_sec": round(med, 3),
        "flag_ratio": FLAG_RATIO,
        "flagged_over_ratio": {
            k: v for k, v in sorted(walls.items(), key=lambda kv: -kv[1]) if med and v > FLAG_RATIO * med
        },
        "errors": errors,
        "queries": walls,
        "profile": profile,
    }
    if args.diff:
        report["new_flagged"] = diff(json.loads(args.diff.read_text()), walls)
    text = json.dumps(report, indent=1)
    if args.json:
        args.json.write_text(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
