"""Single-process extraction pass with per-function busy timers.

The pass calls ``extraction.pipeline.extract_document`` on every
document of a corpus in this process, with the pipeline's public parser
functions (and the OCR engine's recognize/rasterize) wrapped by timers
for the duration of the pass only. It yields the ``extraction.*``
per-layer metrics.
"""

from __future__ import annotations

import contextlib
import inspect
import statistics
import time
from collections import defaultdict
from collections.abc import Callable, Iterator

from ocr_service_spark.extraction import ocr_engine, pipeline
from ocr_service_spark.extraction.pdf_text import pdf_page_count
from ocr_service_spark.plans.job import PDF_MAGIC, run_extraction

# metric name -> names the pipeline module calls through its globals
TIMED = {
    "transfer": ("decode_transfer_encoding",),
    "classify": ("classify",),
    "charset": ("sniff_charset", "decode_text"),
    "fallback": ("extract_text_fallback", "extract_office_zip_text_fallback"),
    "xml_text": ("xml_iter_text",),
    "pdf_text": ("pdf_to_text",),
    "finalize": ("finalize_output_text",),
}
CLASSES = ("html", "plain", "rtf", "xml", "office", "pdf", "image")
BUCKET_PAGES = inspect.signature(run_extraction).parameters["bucket_pages"].default


def _timer(busy: dict[str, float], key: str, fn: Callable) -> Callable:
    def timed(*args, **kwargs):
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            busy[key] += time.perf_counter() - start

    return timed


@contextlib.contextmanager
def timed_functions(busy: dict[str, float]) -> Iterator[None]:
    """Wrap the pipeline's parser entry points and the OCR engine for
    the duration of the block, then restore the originals."""
    saved = []

    def patch(module, name: str, replacement) -> None:
        saved.append((module, name, getattr(module, name)))
        setattr(module, name, replacement)

    for key, names in TIMED.items():
        for name in names:
            patch(pipeline, name, _timer(busy, key, getattr(pipeline, name)))
    patch(
        ocr_engine,
        "rasterize_pdf_page",
        _timer(busy, "ocr_engine.rasterize", ocr_engine.rasterize_pdf_page),
    )
    get_engine = ocr_engine.get_engine

    class TimedEngine:
        def __init__(self, engine) -> None:
            self.recognize = _timer(busy, "ocr_engine.recognize", engine.recognize)

    patch(ocr_engine, "get_engine", lambda: TimedEngine(get_engine()))
    try:
        yield
    finally:
        for module, name, original in reversed(saved):
            setattr(module, name, original)


def _quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def single_pass(
    docs: list[tuple[str, bytes | None]], mode: str, salted: set[str] = frozenset()
) -> tuple[dict, float]:
    """Extract every document in this process. Returns (metrics, seconds
    spent on the documents whose url is in ``salted``)."""
    busy: dict[str, float] = defaultdict(float)
    per_class: dict[str, list[float]] = defaultdict(list)
    salted_s = 0.0
    cpu0 = time.process_time()
    with timed_functions(busy):
        for url, payload in docs:
            start = time.perf_counter()
            row = pipeline.extract_document(payload, url, mode)
            took = time.perf_counter() - start
            per_class[row["doc_class"]].append(took * 1e3)
            salted_s += took if url in salted else 0.0
    cpu = time.process_time() - cpu0

    n = max(len(docs), 1)
    metrics: dict[str, float] = {}
    for cls in CLASSES:
        metrics[f"extraction.{cls}.ms_p50"] = _quantile(per_class.get(cls, []), 0.50)
        metrics[f"extraction.{cls}.ms_p99"] = _quantile(per_class.get(cls, []), 0.99)
    for key in (*TIMED, "ocr_engine.recognize", "ocr_engine.rasterize"):
        suffix = "_ms" if key.startswith("ocr_engine") else ".ms"
        metrics[f"extraction.{key}{suffix}"] = busy[key] * 1e3 / n
    metrics["extraction.docs_per_cpu_s"] = len(docs) / cpu if cpu > 0 else 0.0

    opens = []
    for _, payload in docs:
        if payload and payload[:4] == PDF_MAGIC:
            start = time.perf_counter()
            pdf_page_count(payload)
            opens.append((time.perf_counter() - start) * 1e3)
    metrics["extraction.pdf_open_ms"] = statistics.median(opens) if opens else 0.0
    return metrics, salted_s
