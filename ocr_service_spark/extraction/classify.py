"""Document classification: one pass producing the ``doc_class`` route.

Condenses the reference's per-request flow — ``detect_file_type`` +
``normalise_file_name_with_ext`` (utils/utils.py:438-499) + the
``DocumentConverter.prepare`` dispatch predicates (converter.py:449-527)
— into a single pure function evaluated once per payload. The lazy
``TextChecks`` memoization (utils/utils.py:346-384) is unnecessary
here: each predicate is computed at most once per document.

Route priority (mirrors the ``prepare`` if/elif chain exactly):

    encrypted_office > pdf > xml (and not html) > html
    > rtf / office (filetype in DOCUMENT) > image > plain > unknown
"""

from __future__ import annotations

import posixpath
from dataclasses import dataclass
from urllib.parse import urlparse

from ocr_service_spark.extraction import sniff
from ocr_service_spark.extraction.sniff import DOCUMENT_EXTS, IMAGE_EXTS, FileType


# extensions at which a payload that fails its own branch falls back to
# the office-zip/raw text (converter.py:469); the salted router keeps
# these urls single-pass
OFFICE_ZIP_FALLBACK_EXTS = ("docx", "odt")


@dataclass(frozen=True)
class Classification:
    doc_class: str  # encrypted_office|pdf|xml|html|rtf|office|epub|image|media|plain|unknown
    content_type: str  # initial resolve (converter.py:52-56); branches override later
    ext: str | None  # effective extension ("docx"/"odt"/... or None)
    is_html: bool
    is_xml: bool
    is_rtf: bool
    is_plain: bool

    @property
    def is_text_like(self) -> bool:
        """TextChecks.is_text_like (utils/utils.py:382-384)."""
        return self.is_plain or self.is_html or self.is_xml or self.is_rtf

    @property
    def has_office_zip_fallback(self) -> bool:
        """converter.py:469."""
        return self.ext in OFFICE_ZIP_FALLBACK_EXTS

    @property
    def has_office_text_fallback(self) -> bool:
        """Office formats with a from-scratch text reader: the OOXML/ODF
        zips above plus the legacy OLE binaries (doc_text/xls_text/
        ppt_text, replacing the reference's LibreOffice path
        converter.py:227-345)."""
        return self.ext in ("docx", "odt", "doc", "xls", "ppt")


def url_extension(url: str | None) -> str | None:
    """Extension carried by the url path basename — plays the role of the
    caller-supplied filename extension (SURVEY.md §3.2: url == filename)."""
    if not url:
        return None
    try:
        path = urlparse(url).path
    except Exception:
        path = url
    ext = posixpath.splitext(posixpath.basename(path))[1]
    return ext[1:].lower() if ext else None


def effective_extension(
    url_ext: str | None,
    stream: bytes,
    file_type: FileType | None,
    is_html: bool,
    is_xml: bool,
    is_rtf: bool,
    is_plain: bool,
) -> str | None:
    """The extension ``normalise_file_name_with_ext`` would attach
    (utils/utils.py:438-499): caller ext > detected ext (non-zip) >
    office-container sniff > detected ext > html/xml/rtf/txt heuristics
    > extensionless."""
    if url_ext:
        return url_ext
    detected = file_type.ext if file_type else None
    if detected and detected != "zip":
        return detected
    office_ext = sniff.infer_office_extension_from_content(stream)
    if office_ext:
        return office_ext
    if detected:
        return detected
    if is_html:
        return "html"
    if is_xml:
        return "xml"
    if is_rtf:
        return "rtf"
    if is_plain:
        return "txt"
    return None


def classify(stream: bytes, url: str | None = None) -> Classification:
    """Single-pass classifier; see module docstring for the priority."""
    file_type = sniff.detect_file_type(stream)
    content_type = file_type.mime if file_type is not None else "text/plain"

    if sniff.is_encrypted_office_document(stream):
        return Classification("encrypted_office", content_type, "docx", False, False, False, False)

    ft_ext = file_type.ext if file_type else None
    is_pdf = ft_ext == "pdf"
    is_rtf = ft_ext == "rtf" or sniff.is_file_type_rtf(stream)
    # The reference computes `is_xml() and not is_html` (converter.py:467):
    # the outcome never depends on the SAX parse when is_html holds, so
    # evaluate is_html first and skip the full-stream parse for HTML —
    # identical classification, large saving on a web corpus.
    is_html = sniff.is_file_type_html(stream)
    is_xml = (not is_html) and sniff.is_file_type_xml(stream)
    is_plain = sniff.is_file_content_plain_text(stream)

    ext = effective_extension(
        url_extension(url), stream, file_type, is_html, is_xml, is_rtf, is_plain
    )

    if is_pdf:
        doc_class = "pdf"
    elif ft_ext == "epub":
        # container magic is definitive and must OUTRANK the content
        # sniffs: a STORED (uncompressed) epub leaks raw <html>/<...>
        # member bytes into the stream, so is_html/is_xml would
        # misclaim it (deflated books dodge this only by accident)
        doc_class = "epub"
    elif is_xml:
        doc_class = "xml"
    elif is_html:
        doc_class = "html"
    elif (ft_ext in DOCUMENT_EXTS) or is_rtf:
        doc_class = "rtf" if is_rtf else "office"
    elif ft_ext in IMAGE_EXTS:
        doc_class = "image"
    elif ft_ext in sniff.MEDIA_EXTS:
        doc_class = "media"
    elif is_plain:
        doc_class = "plain"
    else:
        doc_class = "unknown"

    return Classification(doc_class, content_type, ext, is_html, is_xml, is_rtf, is_plain)
