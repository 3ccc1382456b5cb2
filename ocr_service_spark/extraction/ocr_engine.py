"""Pluggable OCR tier (operators O1-O4 in SURVEY.md §2.5).

The reference OCR path (ocr_engine.py:25-81) is similarity-gated, not
byte-gated, and needs native binaries (tesseract, pdfium) that are not
in this container. This module keeps the *pinned configuration* and
the *engine contract* real, and stubs only the recognition call:

- ``TesseractEngine`` — used when ``tesserocr`` is importable on the
  executor image; configured exactly like the reference: language
  ``eng`` (settings.py:33), tessdata prefix env, per-page timeout 30 s
  (settings.py:32), ``OMP_THREAD_LIMIT=1`` so Spark owns parallelism
  (docker-compose.base.yml:35). Rasterization config pinned at
  DPI 200 / grayscale / no smoothing (settings.py:42-43,
  converter.py:139-150) for the pdf->image stage.
- ``StubOcrEngine`` — deterministic fake for environments without the
  binaries: recognizes nothing real, returns a reproducible text token
  stream + confidence derived from the image bytes' sha256, so the
  fan-out/fan-in plumbing (page order, confidence averaging, metadata)
  is fully testable.

Engine instances are executor singletons: created once per Python
worker and reused across Arrow batches (the reference re-creates the
tesseract API per image, a known inefficiency noted in SURVEY §4).

Rasterizer contract: ``open_pdf_for_raster`` parses a PDF once and
``rasterize_pdf_page`` renders page ``k`` of that open document to a
``Raster`` — decoded 8-bit grayscale pixels, handed to
``OcrEngine.recognize`` as they are. No page is encoded to an image
format and decoded again between the two, as the reference hands
pdfium's PIL image straight to tesseract (converter.py:135-181,
ocr_engine.py:30-41). ``recognize`` still takes encoded image bytes
too: scans and the page-level OCR operator (operators/ocr.py) carry
PNG/JPEG/... payloads.
"""

from __future__ import annotations

import hashlib
from typing import Any, NamedTuple, Protocol

from ocr_service_spark.extraction.pdf_text import OpenedPdf, PdfError

# Reference-pinned config (reference file:line in module docstring)
OCR_LANGUAGE = "eng"
OCR_DPI = 200
OCR_GRAYSCALE = True
OCR_PAGE_TIMEOUT_S = 30
OMP_THREAD_LIMIT = "1"


class Raster(NamedTuple):
    """One decoded page: ``width * height`` bytes of row-major 8-bit
    grayscale (0 ink, 255 paper)."""

    width: int
    height: int
    luma: bytes


class OcrEngine(Protocol):
    def recognize(self, image: bytes | Raster) -> tuple[str, float]:
        """encoded image bytes or a ``Raster`` -> (utf-8 text, mean word
        confidence 0..100)."""
        ...


class StubOcrEngine:
    """Deterministic stand-in (NOT real OCR — clearly marked stub)."""

    def recognize(self, image: bytes | Raster) -> tuple[str, float]:
        if isinstance(image, Raster):
            image = b"%dx%d:" % image[:2] + image.luma
        digest = hashlib.sha256(image).hexdigest()
        words = [f"w{digest[i : i + 4]}" for i in range(0, 16, 4)]
        confidence = 50.0 + (int(digest[:4], 16) % 5000) / 100.0
        return " ".join(words), confidence


class TesseractEngine:
    """Real engine; importable only on executor images that ship
    tesseract (O1: init once per worker, reuse across batches).

    Config pass-through mirrors the reference worker init
    (ocr_engine.py:25-28): ``path`` from the ``TESSDATA_PREFIX`` env
    (settings.py:31/169 — executor-image env is the Spark analog of
    its settings object), ``lang`` pinned to OCR_LANGUAGE
    (settings.py:33). Each recognition runs under the reference's
    30 s per-page timeout (settings.py:32, result.get(timeout=...) at
    ocr_engine.py:66) via a single reused worker thread — the
    thread-pool shape of its multiprocessing.dummy Pool, sized 1
    because Spark owns page parallelism. ``close()`` mirrors the
    End() teardown (ocr_engine.py:74-75) and is registered atexit for
    the executor-singleton lifetime."""

    def __init__(self) -> None:
        import os

        os.environ.setdefault("OMP_THREAD_LIMIT", OMP_THREAD_LIMIT)
        self._api = self._new_api()
        from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

        self._pool = ThreadPoolExecutor(max_workers=1)
        # (pool, api) pairs abandoned after a page timeout — their
        # worker thread may still sit inside a native call
        self._abandoned: list[tuple] = []

    @staticmethod
    def _new_api():
        import os

        from tesserocr import PyTessBaseAPI  # noqa: PLC0415

        kwargs: dict = {"lang": OCR_LANGUAGE}
        tessdata = os.environ.get("TESSDATA_PREFIX")
        if tessdata:
            kwargs["path"] = tessdata
        return PyTessBaseAPI(**kwargs)

    def _recognize_sync(self, image: bytes | Raster) -> tuple[str, float]:
        from io import BytesIO

        from PIL import Image  # noqa: PLC0415

        if isinstance(image, Raster):
            self._api.SetImage(Image.frombytes("L", (image.width, image.height), image.luma))
        else:
            with Image.open(BytesIO(image)) as img:
                self._api.SetImage(img.copy())
        text = self._api.GetUTF8Text()
        confidences = self._api.AllWordConfidences()
        # reference: empty page -> denominator 1 -> 0.0 (ocr_engine.py:37)
        mean_conf = sum(confidences) / max(len(confidences), 1)
        return text, float(mean_conf)

    def recognize(self, image: bytes | Raster) -> tuple[str, float]:
        # raises concurrent.futures.TimeoutError past the pinned page
        # budget, like the reference's result.get(timeout=...) — the
        # document-level swallow turns it into the empty failure row.
        # A Python thread can't be killed, so on timeout the poisoned
        # pool+API are ABANDONED and rebuilt: without this, the stuck
        # native call would queue every later page on this executor
        # behind it (the reference's process pool can kill the page;
        # a fresh single-use API per worker is the thread analog).
        from concurrent.futures import TimeoutError as FuturesTimeout  # noqa: PLC0415

        fut = self._pool.submit(self._recognize_sync, image)
        try:
            return fut.result(timeout=OCR_PAGE_TIMEOUT_S)
        except (TimeoutError, FuturesTimeout):  # separate classes on <=3.10
            self._pool.shutdown(wait=False)
            self._abandoned.append((self._pool, self._api))
            self._api = self._new_api()
            from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

            self._pool = ThreadPoolExecutor(max_workers=1)
            raise

    def close(self) -> None:
        self._pool.shutdown(wait=False)
        # End() the live API (by construction never mid-call after its
        # pool drained); ABANDONED pairs may still sit inside a native
        # call — freeing those concurrently risks a native crash, so
        # they are left to process teardown
        self._api.End()


def engine_name() -> str:
    """Identity slug of the engine the ladder would pick in this
    environment ("tesseract" or "glyph"). Lets driver queries emit the
    engine identity as a column, so a committed expected table is
    self-explaining if it ever runs under a different engine."""
    try:
        import tesserocr  # noqa: F401, PLC0415

        return "tesseract"
    except Exception:
        return "glyph"


_ENGINE: OcrEngine | None = None


def get_engine() -> OcrEngine:
    """Executor-singleton accessor (module scope survives across Arrow
    batches in a reused Python worker).

    Engine ladder: tesseract when the executor image ships it, else the
    from-scratch glyph-matching engine (extraction/glyph_ocr.py — pixel
    recognition on a ``Raster`` or a decoded image, always
    constructible). The hash
    stub remains available for tests that need schema-only plumbing.
    """
    global _ENGINE
    if _ENGINE is None:
        try:
            engine = TesseractEngine()
            import atexit

            atexit.register(engine.close)  # End() at worker teardown
            _ENGINE = engine
        except Exception:
            from ocr_service_spark.extraction.glyph_ocr import GlyphOcrEngine

            _ENGINE = GlyphOcrEngine()
    return _ENGINE


def open_pdf_for_raster(pdf_bytes: bytes) -> tuple[Any, int]:
    """Parse a PDF once for ``rasterize_pdf_page``: (document, page
    count). The document is a pdfium ``PdfDocument`` when pdfium is on
    the executor image (the reference's per-worker document,
    converter.py:121-133), else an ``OpenedPdf``. Raises when the bytes
    do not open or the page tree is empty."""
    try:
        import pypdfium2 as pdfium  # noqa: PLC0415
    except ImportError:
        opened = OpenedPdf(pdf_bytes)
        return opened, opened.page_count
    doc = pdfium.PdfDocument(pdf_bytes)  # pragma: no cover
    if not len(doc):
        raise PdfError("no pages")
    return doc, len(doc)


def rasterize_pdf_page(doc: Any, page_no: int) -> Raster:
    """Page ``page_no`` of a document from ``open_pdf_for_raster`` ->
    its pixels.

    With pdfium on the executor image this is a geometric render at the
    pinned DPI/grayscale settings (reference converter.py:139-150).
    Without it, the from-scratch fallback renders the page's TEXT LAYER
    in the glyph engine's font (extraction/glyph_ocr.py) — layout-free
    but pixel-real, so the OCR tier's full loop (parse -> rasterize ->
    binarize -> segment -> recognize -> ordered concat) runs on actual
    pixels in any environment, and recognized text round-trips the text
    layer byte-exactly for in-font characters.
    """
    if isinstance(doc, OpenedPdf):
        from ocr_service_spark.extraction.glyph_ocr import render_text_luma

        (text,) = doc.page_texts(page_no, page_no + 1)
        # wrap like a physical page would (A4 at this glyph pitch);
        # keeps the raster compact for arbitrarily long text runs
        wrapped: list[str] = []
        for line in text.splitlines() or [""]:
            while len(line) > 96:
                wrapped.append(line[:96])
                line = line[96:]
            wrapped.append(line)
        return render_text_luma("\n".join(wrapped))
    image = doc[page_no].render(  # pragma: no cover
        scale=OCR_DPI / 72,
        grayscale=OCR_GRAYSCALE,
        no_smoothtext=True,
        no_smoothimage=True,
        no_smoothpath=True,
    ).to_pil()
    return Raster(image.width, image.height, image.tobytes())
