"""The benchmark workloads: corpus, set-up, the timed job, the
correctness gate and the traced per-layer metrics.

Every workload runs as a closed loop of one job at a time in one driver
process. Set-up runs once: session start, corpus cache, and one full
warm-up job whose output feeds the correctness gate. The measured loop
then runs for ``--seconds`` and reports the median job time.
"""

from __future__ import annotations

import multiprocessing
import re
import shutil
import statistics
import sys
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

import corpus
import eventlog
import layers
from procs import PeakRss

from ocr_service_spark.extraction.pipeline import extract_document

MIN_ITERS = 1
MIB = 1024 * 1024
COMPARED = ("extracted_text", "content_type", "pages", "success", "doc_class", "fallback_reason")

EXTRACT_NODE = r"^MapInPandas .*\bextracted_text#"
SALTED_NODES = r"^MapInPandas .*\b(n_buckets|txt)#"
PY_RUN = "time to run Python workers"


@dataclass
class Run:
    """State shared by one invocation."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    dir: Path
    spans: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def span(self, name: str, start: float) -> float:
        """Record a finished span and return its duration."""
        took = time.perf_counter() - start
        self.spans.append({"name": name, "start_s": round(start, 6), "dur_s": round(took, 6)})
        return took

    def session(self, traced: bool = False):
        from ocr_service_spark.plans.session import build_session

        conf = {"spark.ui.showConsoleProgress": "false"}
        if traced:
            log_dir = self.dir / "eventlog"
            log_dir.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": log_dir.as_uri(),
                }
            )
        spark = build_session(
            app_name=f"perfbench-{self.workload}", cpus=self.cpus, extra_conf=conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def gate(self, problems: list[str], checked: int, report: dict) -> None:
        """Count ``checked`` gated outputs, of which ``problems`` failed."""
        self.attempted += checked
        self.failed += len(problems)
        report["gate_problems"] = problems[:5]
        for problem in problems:
            print(f"perfbench: gate: {problem}", file=sys.stderr)


def measure(
    run: Run, job: Callable[[int], None], min_iters: int = MIN_ITERS
) -> tuple[list[float], list[float]]:
    """Closed loop: one job at a time until ``run.seconds`` have passed
    (and at least ``min_iters`` jobs ran). Returns the per-job start
    times and wall times."""
    starts: list[float] = []
    times: list[float] = []
    deadline = time.perf_counter() + run.seconds
    while len(times) < min_iters or time.perf_counter() < deadline:
        start = time.perf_counter()
        starts.append(start)
        run.attempted += 1
        try:
            job(len(times))
        except Exception as exc:  # counted, reported, and the loop goes on
            run.failed += 1
            print(f"perfbench: job failed: {exc!r}", file=sys.stderr)
        times.append(run.span(f"job{len(times)}", start))
    return starts, times


def set_phase(spark, phase: str | None) -> None:
    spark.sparkContext.setLocalProperty(eventlog.PHASE_PROPERTY, phase)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Extraction workloads
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Extraction:
    build: Callable[[int], list[corpus.Doc]]
    mode: str
    checkpoint: bool  # True: run_with_checkpoint to parquet; False: noop sink


EXTRACTION = {
    "webmix": Extraction(lambda seed: corpus.webmix(seed, 1000), "NO_OCR", True),
    "pdfskew": Extraction(lambda seed: corpus.pdfskew(seed, 100, 1), "NO_OCR", False),
    "ocr_scan": Extraction(lambda seed: corpus.ocr_scan(seed, 16, 2), "OCR", False),
}


def _norm(value):
    """A result cell as a plain Python value: NA/NaN -> None, numpy
    scalars unwrapped, whole floats (nullable ``pages``) -> int."""
    if value is None or (not isinstance(value, str) and pd.isna(value)):
        return None
    if hasattr(value, "item"):
        value = value.item()
    return int(value) if isinstance(value, float) and value.is_integer() else value


def gate_rows(got, expected: list[dict]) -> tuple[int, list[str]]:
    """Compare result rows with reference rows on url and ``COMPARED``.
    Returns (rows checked, problems)."""
    want = {row["url"]: row for row in expected}
    counts = Counter(got["url"])
    problems = [f"missing {u}" for u in want if u not in counts]
    problems += [f"duplicated {u}" for u, c in counts.items() if c > 1]
    problems += [f"unexpected {u}" for u in counts if u not in want]
    for rec in got.to_dict("records"):
        ref = want.get(rec["url"])
        if ref is None:
            continue
        bad = [f for f in COMPARED if _norm(rec[f]) != _norm(ref[f])]
        if bad:
            problems.append(f"{rec['url']}: {','.join(bad)}")
    return len(want), problems


def reference(docs, mode: str, procs: int) -> list[dict]:
    """``extract_document`` of every document, in ``procs`` worker
    processes; waits for every one of them to end."""
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        return pool.starmap(extract_document, [(p, u, mode) for u, p in docs], chunksize=8)
    finally:
        pool.close()
        pool.join()


def _job(spark, spec: Extraction, pages_path: Path, out: Path, metrics=None, collect=False):
    """One job of the workload. ``collect=True`` (noop-sink workloads
    only) returns the result rows instead of discarding them."""
    from ocr_service_spark.plans.job import run_extraction
    from ocr_service_spark.plans.manifest import run_with_checkpoint
    from ocr_service_spark.sources.pages import read_pages

    pages = read_pages(spark, str(pages_path))
    if spec.checkpoint:
        run_with_checkpoint(
            spark,
            pages,
            str(pages_path),
            str(out / "results"),
            str(out / "manifest"),
            mode=spec.mode,
            metrics=metrics,
        )
        return None
    results = run_extraction(pages, mode=spec.mode, metrics=metrics)
    if collect:
        return results.toPandas()
    noop(results)
    return None


def _read_back(spark, out: Path):
    """Results and manifest ``doc_count`` sum written by one
    checkpointed job."""
    from pyspark.sql import functions as F

    rows = spark.read.parquet(str(out / "results")).toPandas()
    manifest = spark.read.parquet(str(out / "manifest"))
    return rows, manifest.agg(F.sum("doc_count")).first()[0]


def _setup(run: Run, spec: Extraction, docs, pages_path: Path):
    """``build_session`` (starts the JVM and SparkContext), the corpus
    cached as a pages table, and one full warm-up job, which starts the
    Python workers and compiles the job's stages. Returns (spark,
    session start s, whole set-up s, gate rows, manifest doc_count sum):
    the warm-up's rows, collected instead of discarded, or read back
    (outside the set-up time) for the checkpointed workload."""
    start = time.perf_counter()
    spark = run.session()
    session_s = run.span("setup.session", start)
    corpus.write_pages(docs, pages_path)
    warm = run.dir / "warm"
    got, manifest_docs = pd.DataFrame({"url": []}), None  # all rows missing
    run.attempted += 1
    try:
        rows = _job(spark, spec, pages_path, warm, collect=True)
        setup_s = run.span("setup", start)
        if spec.checkpoint:
            rows, manifest_docs = _read_back(spark, warm)
        got = rows
    except Exception as exc:
        setup_s = run.span("setup", start)
        run.failed += 1
        print(f"perfbench: warm-up job failed: {exc!r}", file=sys.stderr)
    shutil.rmtree(warm, ignore_errors=True)
    return spark, session_s, setup_s, got, manifest_docs


def _timed_loop(run: Run, spark, spec: Extraction, pages_path: Path, tag: str, traced=False):
    """The measured loop. Every job gets fresh ``ExtractionMetrics``, as
    the CLI passes them. Returns (job starts, job times, last output
    dir, accumulator snapshots)."""
    from ocr_service_spark.operators.metrics import ExtractionMetrics

    outs: list[Path] = []
    snapshots = []

    def job(i: int) -> None:
        out = run.dir / f"{tag}{i}"
        outs.append(out)
        acc = ExtractionMetrics.create(spark)
        if traced:
            set_phase(spark, f"iter{i}")
        _job(spark, spec, pages_path, out, acc)
        snapshots.append(acc.snapshot())

    # traced, the first job in the restarted session is cold and dropped
    starts, times = measure(run, job, MIN_ITERS + 1 if traced else MIN_ITERS)
    set_phase(spark, None)
    for out in outs[:-1]:
        shutil.rmtree(out, ignore_errors=True)
    return starts, times, outs[-1], snapshots


def run_extraction_workload(run: Run, env: dict) -> tuple[dict, dict]:
    spec = EXTRACTION[run.workload]
    start = time.perf_counter()
    docs = spec.build(run.seed)
    build_s = run.span("corpus.build", start)
    start = time.perf_counter()
    expected = reference(docs, spec.mode, run.cpus)
    run.span("reference", start)
    pages_path = run.dir / "pages.parquet"

    spark, session_s, setup_s, got, manifest_docs = _setup(run, spec, docs, pages_path)
    env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

    _, times, _, _ = _timed_loop(run, spark, spec, pages_path, "job")
    wall_s = statistics.median(times)
    report = {"job_s": times, "setup_s": setup_s, "corpus_build_s": build_s}

    if run.trace:
        per_layer = _traced(run, spark, spec, docs, pages_path)
    checked, problems = gate_rows(got, expected)
    if manifest_docs is not None:
        checked += 1
        if manifest_docs != len(docs):
            problems.append(f"manifest doc_count {manifest_docs} != {len(docs)}")
    run.gate(problems, checked, report)

    if run.trace:
        per_layer["setup.session_s"] = session_s
        per_layer["trace.untraced_wall_s"] = wall_s
        per_layer["trace.overhead_frac"] = per_layer["trace.traced_wall_s"] / wall_s - 1
        per_layer["spark.parallel_eff"] = (
            len(docs) / wall_s / (run.cpus * per_layer["extraction.docs_per_cpu_s"])
            if per_layer["extraction.docs_per_cpu_s"]
            else 0.0
        )
        per_layer["error_frac"] = run.failed / max(run.attempted, 1)
        return per_layer, report

    n_pages = sum(int(r["pages"] or 0) for r in expected)
    return (
        {
            "wall_s": wall_s,
            "docs_per_s": len(docs) / wall_s,
            "pages_per_s": n_pages / wall_s,
            "setup_s": build_s + setup_s,
        },
        report,
    )


def _traced(run: Run, spark, spec: Extraction, docs, pages_path: Path):
    """Re-run the loop in a session that writes the event log, run the
    per-layer probes, then parse the log and do the single-process pass.
    Returns the per-layer metrics."""
    from pyspark.sql import functions as F

    from ocr_service_spark.operators.extract import explode_pdf_buckets
    from ocr_service_spark.operators.metrics import ExtractionMetrics
    from ocr_service_spark.plans.job import is_big_pdf
    from ocr_service_spark.plans.manifest import run_with_checkpoint
    from ocr_service_spark.sources.pages import read_pages

    spark.stop()
    spark = run.session(traced=True)
    with PeakRss() as rss:
        starts, times, last_out, snaps = _timed_loop(
            run, spark, spec, pages_path, "trace", traced=True
        )
    # per-job numbers cover the jobs after the cold first one
    starts, times, snaps = starts[1:], times[1:], snaps[1:]
    n = len(times)
    m: dict[str, float] = {
        "trace.traced_wall_s": statistics.median(times),
        "memory.python_peak_mib": rss.job_peak_mib(starts, times),
        "memory.jvm_peak_mib": rss.jvm_peak_mib,
    }

    scans = []
    for k in range(3):
        set_phase(spark, f"scan{k}")
        start = time.perf_counter()
        noop(read_pages(spark, str(pages_path)).select("url", "html"))
        scans.append(run.span(f"scan{k}", start))
    m["sources.scan_s"] = statistics.median(scans)
    m["sources.scan_mb"] = sum(f.stat().st_size for f in pages_path.glob("*.parquet")) / MIB

    # the router's own predicate picks the salted documents
    set_phase(spark, "salted")
    big = read_pages(spark, str(pages_path)).filter(is_big_pdf())
    salted_urls = {r["url"] for r in big.select("url").collect()}
    giant_bytes = sum(len(p) for u, p in docs if u in salted_urls)
    m["job.salted_docs"] = len(salted_urls)
    m["job.buckets"] = m["job.payload_dup_ratio"] = 0
    if salted_urls:
        buckets, bucket_bytes = (
            explode_pdf_buckets(big, "html", layers.BUCKET_PAGES)
            .agg(F.count("*"), F.sum(F.octet_length("payload")))
            .first()
        )
        m["job.buckets"] = buckets
        m["job.payload_dup_ratio"] = bucket_bytes / giant_bytes

    for key in ("write_s", "lineage_s", "files_written", "bytes_written_mb"):
        m[f"manifest.{key}"] = 0
    m["manifest.resume_noop_s"] = m["manifest.resume_docs"] = 0
    if spec.checkpoint:
        files = [
            p for d in ("results", "manifest") for p in (last_out / d).rglob("*")
            if p.is_file() and not p.name.startswith((".", "_"))
        ]
        m["manifest.files_written"] = len(files)
        m["manifest.bytes_written_mb"] = sum(p.stat().st_size for p in files) / MIB
        set_phase(spark, "resume")
        acc = ExtractionMetrics.create(spark)
        start = time.perf_counter()
        run_with_checkpoint(
            spark,
            read_pages(spark, str(pages_path)),
            str(pages_path),
            str(last_out / "results"),
            str(last_out / "manifest"),
            mode=spec.mode,
            metrics=acc,
        )
        m["manifest.resume_noop_s"] = run.span("resume", start)
        m["manifest.resume_docs"] = acc.docs.value

    set_phase(spark, None)
    spark.stop()  # flushes the event log

    start = time.perf_counter()
    log = eventlog.read_event_log(run.dir / "eventlog")
    run.span("eventlog.parse", start)
    iters = log.phase_tasks(r"iter[1-9]\d*")
    totals = eventlog.stage_totals(iters, n)
    for key in ("tasks", "executor_run_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = totals[key]

    extract_stages = log.node_stages(iters, EXTRACT_NODE)
    salted_stages = log.node_stages(iters, SALTED_NODES)
    task_run = sum(t.run_ms for t in iters if t.stage in extract_stages) / 1e3 / n
    udf_busy = sum(s["wall_ms"] for s in snaps) / 1e3 / n
    m["extract.udf_busy_s"] = udf_busy
    m["extract.task_run_s"] = task_run
    m["extract.boundary_overhead_frac"] = 1 - udf_busy / task_run if task_run else 0.0
    m["extract.py_init_s"] = (
        log.node_metric_sum(iters, EXTRACT_NODE, "time to start Python workers")
        + log.node_metric_sum(iters, EXTRACT_NODE, "time to initialize Python workers")
    ) / n
    m["extract.py_sent_mb"] = (
        log.node_metric_sum(iters, EXTRACT_NODE, "data sent to Python workers") / MIB / n
    )
    m["extract.py_returned_mb"] = (
        log.node_metric_sum(iters, EXTRACT_NODE, "data returned from Python workers") / MIB / n
    )
    m["job.salted_shuffle_mb"] = (
        sum(t.shuffle_write for t in iters if t.stage in salted_stages) / MIB / n
    )
    runs = sorted(t.run_ms for t in iters if t.stage in extract_stages | salted_stages)
    median_run = statistics.median(runs) if runs else 0
    m["job.tail_task_ratio"] = runs[-1] / median_run if median_run else 0.0

    if spec.checkpoint:
        writes = [
            (s.end_ms - s.start_ms) / 1e3
            for s in log.sql.values()
            if s.end_ms is not None
            and s.phase is not None
            and re.fullmatch(r"iter[1-9]\d*", s.phase)
            and "InsertIntoHadoopFsRelationCommand" in s.plan
            and "/results" in s.plan
        ]
        m["manifest.write_s"] = sum(writes) / n
        m["manifest.lineage_s"] = statistics.fmean(times) - m["manifest.write_s"]

    start = time.perf_counter()
    extraction_metrics, salted_single_s = layers.single_pass(
        docs, spec.mode, salted_urls
    )
    run.span("single_pass", start)
    m.update(extraction_metrics)
    # Python-worker time of the explode and bucket-extract stages per
    # job, over the single-pass extract_document time of the same PDFs
    salted_py_s = log.node_metric_sum(iters, SALTED_NODES, PY_RUN) / n
    m["job.salt_cpu_ratio"] = salted_py_s / salted_single_s if salted_single_s else 0.0
    return m


# ---------------------------------------------------------------------------
# Registry workload
# ---------------------------------------------------------------------------

# the relational control query and the slowest registry leaf: the other
# candidates (ROADMAP item 5, the slowest round-6 leaves) would not fit
# the run budget
REGISTRY_QUERIES = ("q01_pricing_summary", "q154_cluster_sizes")
REGISTRY_TABLES = ("documents", "embeddings", "lineitem")
REGISTRY_SIZES = {"n_docs": 200, "n_vecs": 300, "n_lines": 20_000}
PYTHON_NODE = r"^(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas)"


def oracle_problems(got, want) -> list[str]:
    """The column / row-count / value comparison of the registry's
    oracle check (tools/check_oracles.py), on column-name-sorted frames."""
    cols = sorted(got.columns)
    if sorted(want.columns) != cols:
        return [f"columns {cols} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    a = got[cols].sort_values(cols, ignore_index=True)
    b = want[cols].sort_values(cols, ignore_index=True)
    return [] if a.equals(b) else ["values differ"]


def run_registry_workload(run: Run, env: dict) -> tuple[dict, dict]:
    import duckdb

    import __spark_entry__ as entry

    sf_dir = run.dir / "sf"
    registry = entry.queries()
    collected: dict[str, pd.DataFrame] = {}

    def sweep(spark, per_query: dict[str, list[float]], tag: str | None = None) -> None:
        for name in REGISTRY_QUERIES:
            if tag is not None:
                set_phase(spark, f"{name}#{tag}")
            start = time.perf_counter()
            noop(registry[name](spark, str(sf_dir)))
            per_query.setdefault(name, []).append(run.span(name, start))

    # set-up: session, tables, and a warm-up sweep that collects each
    # query's rows for the oracle gate
    start = time.perf_counter()
    spark = run.session()
    session_s = run.span("setup.session", start)
    corpus.registry_tables(run.seed, sf_dir, **REGISTRY_SIZES)
    for name in REGISTRY_QUERIES:
        run.attempted += 1
        try:
            collected[name] = registry[name](spark, str(sf_dir)).toPandas()
        except Exception as exc:
            run.failed += 1
            print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr)
    setup_s = run.span("setup", start)
    env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

    per_query: dict[str, list[float]] = {}
    _, times = measure(run, lambda i: sweep(spark, per_query))
    wall_s = statistics.median(times)
    query_p50_s = statistics.median(statistics.median(v) for v in per_query.values())
    report = {"sweep_s": times, "query_s": per_query, "setup_s": setup_s}

    # correctness: every query against its DuckDB oracle
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for table in REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir / table}.parquet'")
    problems = []
    for name in REGISTRY_QUERIES:
        got = collected.get(name)
        bad = (
            ["no rows collected"]
            if got is None
            else oracle_problems(got, con.execute(oracles[name]).fetch_df())
        )
        problems += [f"{name}: {'; '.join(bad)}"] if bad else []
    con.close()
    run.gate(problems, len(REGISTRY_QUERIES), report)

    n_docs = REGISTRY_SIZES["n_docs"]
    if not run.trace:
        return (
            {
                "wall_s": wall_s,
                "docs_per_s": n_docs / wall_s,
                "pages_per_s": n_docs / wall_s,
                "setup_s": setup_s,
            },
            report,
        )

    spark.stop()
    spark = run.session(traced=True)
    traced: dict[str, list[float]] = {}
    sweep(spark, traced, "warm")
    traced.clear()
    with PeakRss() as rss:
        starts, sweeps = measure(run, lambda i: sweep(spark, traced, str(i)))
    n = len(sweeps)
    set_phase(spark, None)
    spark.stop()
    log = eventlog.read_event_log(run.dir / "eventlog")
    m: dict[str, float] = {"setup.session_s": session_s, "registry.query_p50_s": query_p50_s}
    for name in REGISTRY_QUERIES:
        tasks = log.phase_tasks(rf"{name}#\d+")
        totals = eventlog.stage_totals(tasks, n)
        m[f"registry.{name}.s"] = statistics.median(traced[name])
        m[f"registry.{name}.shuffle_mb"] = totals["shuffle_write_mb"]
        m[f"registry.{name}.python_s"] = log.node_metric_sum(tasks, PYTHON_NODE, PY_RUN) / n
        m[f"registry.{name}.jvm_cpu_s"] = totals["jvm_cpu_s"]
    totals = eventlog.stage_totals(log.phase_tasks(r"q\d+_.*#\d+"), n)
    for key in ("tasks", "executor_run_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = totals[key]
    m["trace.untraced_wall_s"] = wall_s
    m["trace.traced_wall_s"] = statistics.median(sweeps)
    m["trace.overhead_frac"] = m["trace.traced_wall_s"] / wall_s - 1
    m["memory.python_peak_mib"] = rss.job_peak_mib(starts, sweeps)
    m["memory.jvm_peak_mib"] = rss.jvm_peak_mib
    m["error_frac"] = run.failed / max(run.attempted, 1)
    return m, report
