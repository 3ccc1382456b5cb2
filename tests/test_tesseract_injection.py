"""Prove the tesseract production rung of the engine ladder by
injection: a fake ``tesserocr``/``PIL`` pair (shipped to executors via
addPyFile) drives ocr_engine.TesseractEngine end-to-end through
ocr_pages/run_ocr_pages and the OCR-mode PDF branch (a ``Raster`` page
becomes an ``Image.frombytes("L", ...)`` of its size and pixels),
pinning the reference's config pass-through —
lang (settings.py:33), TESSDATA_PREFIX path (settings.py:31/169,
ocr_engine.py:26), OMP_THREAD_LIMIT=1 (docker-compose.base.yml:35),
the 30 s per-page timeout (settings.py:32, ocr_engine.py:66), the
empty-page denominator-1 confidence rule (ocr_engine.py:37), and
End() teardown (ocr_engine.py:74-75).

Runs in a SUBPROCESS with its own SparkSession: addPyFile persists for
a session's lifetime, and the executor-singleton engine cache would
otherwise leak the fake engine into every later OCR test sharing the
conftest session.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

FAKE_TESSEROCR = '''
import os

class PyTessBaseAPI:
    def __init__(self, **kwargs):
        self.kwargs = dict(kwargs)
        self.ended = False
        self._img = None

    def SetImage(self, img):
        self._img = img

    def GetUTF8Text(self):
        import hashlib, time
        data = self._img.data
        if data == b"SLEEPY":
            time.sleep(5)
        tag = hashlib.sha256(data).hexdigest()[:8]
        # echo the effective config so driver-side asserts can verify the
        # pass-through happened INSIDE the executor worker
        return "[lang=%s|path=%s|omp=%s]%s\\n" % (
            self.kwargs.get("lang"),
            self.kwargs.get("path"),
            os.environ.get("OMP_THREAD_LIMIT"),
            tag,
        )

    def AllWordConfidences(self):
        if self._img.data == b"EMPTYPAGE":
            return []
        return [90, 92]

    def End(self):
        self.ended = True
'''

FAKE_PIL_IMAGE = '''
class _Img:
    def __init__(self, data, mode=None, size=None):
        self.data = data
        self.mode = mode
        self.size = size

    def copy(self):
        return self

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def open(fp):
    return _Img(fp.read())


def frombytes(mode, size, data):
    return _Img(bytes(data), mode, size)
'''

DRIVER = '''
import hashlib
import os
import shutil
import sys
import tempfile

repo = {repo!r}
sys.path.insert(0, repo)

fake = tempfile.mkdtemp(prefix="fake_tess_")
with open(os.path.join(fake, "tesserocr.py"), "w") as f:
    f.write({fake_tesserocr!r})
os.makedirs(os.path.join(fake, "PIL"))
with open(os.path.join(fake, "PIL", "__init__.py"), "w") as f:
    f.write("from PIL import Image\\n")
with open(os.path.join(fake, "PIL", "Image.py"), "w") as f:
    f.write({fake_pil!r})
zip_base = os.path.join(tempfile.mkdtemp(prefix="fake_zip_"), "faketess")
zip_path = shutil.make_archive(zip_base, "zip", fake)

sys.path.insert(0, fake)
os.environ["TESSDATA_PREFIX"] = "/fake/tessdata"

from ocr_service_spark.extraction import ocr_engine

# --- ladder selection (driver-side) ---
assert ocr_engine.engine_name() == "tesseract", ocr_engine.engine_name()
eng = ocr_engine.get_engine()
assert isinstance(eng, ocr_engine.TesseractEngine), type(eng)
assert eng._api.kwargs == {{"lang": "eng", "path": "/fake/tessdata"}}, eng._api.kwargs
assert os.environ["OMP_THREAD_LIMIT"] == "1"

# --- empty-page denominator rule (ocr_engine.py:37) ---
text, conf = eng.recognize(b"EMPTYPAGE")
assert conf == 0.0, conf
assert "lang=eng" in text and "path=/fake/tessdata" in text and "omp=1" in text, text

# --- decoded pages: a Raster becomes an "L" image of its size/pixels ---
raster = ocr_engine.Raster(3, 2, bytes([0, 50, 100, 150, 200, 250]))
text, conf = eng.recognize(raster)
img = eng._api._img
assert (img.mode, img.size, img.data) == ("L", (3, 2), raster.luma), vars(img)
assert text.endswith(hashlib.sha256(raster.luma).hexdigest()[:8] + "\\n"), text

# --- OCR-mode PDF: one open, every page as a Raster ---
from ocr_service_spark.extraction.pdf_text import OpenedPdf
from ocr_service_spark.extraction.pipeline import extract_document
from ocr_service_spark.sources.pages import write_text_pdf

pdf = write_text_pdf(["FIRST", "SECOND"])
opened = OpenedPdf(pdf)
lumas = [ocr_engine.rasterize_pdf_page(opened, k).luma for k in range(2)]
row = extract_document(pdf, "u.pdf", "OCR")
assert row["pages"] == 2 and row["confidence"] == 91.0, row
assert row["extracted_text"] == "\\n".join(
    "[lang=eng|path=/fake/tessdata|omp=1]%s" % hashlib.sha256(luma).hexdigest()[:8]
    for luma in lumas
), row

# --- per-page timeout (settings.py:32) ---
ocr_engine.OCR_PAGE_TIMEOUT_S = 0.3
try:
    eng.recognize(b"SLEEPY")
    raise SystemExit("FAIL: timeout not enforced")
except TimeoutError:
    pass
ocr_engine.OCR_PAGE_TIMEOUT_S = 30

# --- End() teardown contract ---
eng.close()
assert eng._api.ended is True
ocr_engine._ENGINE = None  # fresh singleton for the Spark stage

# --- end-to-end through the Spark OCR tier ---
from ocr_service_spark.plans.session import build_session
from ocr_service_spark.operators.ocr import run_ocr_pages

spark = build_session(app_name="fake-tess", cpus=2, shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile(zip_path)

rows = [
    ("doc1", 0, bytearray(b"PAGE-A")),
    ("doc1", 2, bytearray(b"PAGE-C")),
    ("doc1", 1, bytearray(b"PAGE-B")),
    ("doc2", 0, bytearray(b"PAGE-D")),
]
pages = spark.createDataFrame(rows, "url string, page_no int, png binary")
got = {{r["url"]: r for r in run_ocr_pages(pages).collect()}}

def tag(b):
    return hashlib.sha256(b).hexdigest()[:8]

expect1 = "".join(
    "[lang=eng|path=/fake/tessdata|omp=1]%s\\n" % tag(b)
    for b in (b"PAGE-A", b"PAGE-B", b"PAGE-C")  # ordered concat, O3
)
assert got["doc1"]["ocr_text"] == expect1, got["doc1"]["ocr_text"]
assert got["doc1"]["pages"] == 3 and got["doc2"]["pages"] == 1
assert got["doc1"]["confidence"] == 91.0  # round(mean of page means, 4)
assert got["doc2"]["confidence"] == 91.0

spark.stop()
print("INJECTION-OK")
'''


def test_tesseract_rung_end_to_end_by_injection(tmp_path):
    script = DRIVER.format(
        repo=str(REPO), fake_tesserocr=FAKE_TESSEROCR, fake_pil=FAKE_PIL_IMAGE
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stdout + "\n" + out.stderr
    assert "INJECTION-OK" in out.stdout
