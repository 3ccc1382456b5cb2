"""Best-effort text-extraction fallback cascade (operators T1/T2/T4).

Faithful re-expression of ``DocumentConverter._extract_text_fallback``
(converter.py:70-106) and ``_extract_office_zip_text_fallback``
(converter.py:108-119):

    html/xml -> all-strings join("\\n") -> tag-strip regexes
    (empty and rtf) -> RTF state machine
    (still empty)   -> raw utf-8 decode with errors ignored
    always          -> html.unescape as the final pass

Note the final ``unescape`` applies on *every* path (including the RTF
and raw-decode arms) — an observable reference quirk we preserve.
"""

from __future__ import annotations

import zipfile
from html import unescape
from io import BytesIO

from ocr_service_spark.extraction.html_text import (
    _BARE_TAG,
    _SELF_CLOSING_TAG,
    html_all_strings,
)
from ocr_service_spark.extraction.rtf_text import rtf_to_text
from ocr_service_spark.extraction.xml_text import xml_all_strings

# Office-zip member holding the document body (converter.py:110).
OFFICE_ZIP_XML_PATH = {"docx": "word/document.xml", "odt": "content.xml"}


def extract_text_fallback(
    stream: bytes,
    *,
    is_html: bool = False,
    is_xml: bool = False,
    is_rtf: bool = False,
) -> str:
    """converter.py:70-106."""
    text = ""

    if is_html or is_xml:
        if is_html:
            text = html_all_strings(stream)
        else:
            try:
                text = xml_all_strings(stream)
            except Exception:
                # reference retries a failed lxml-xml parse with html.parser
                try:
                    text = html_all_strings(stream)
                except Exception:
                    text = ""
        text = _SELF_CLOSING_TAG.sub("", text)
        text = _BARE_TAG.sub("", text)

    if not text and is_rtf:
        try:
            text = rtf_to_text(stream.decode("utf-8", "ignore"))
        except Exception:
            pass

    if not text:
        text = stream.decode("utf-8", "ignore")

    return unescape(text)


def extract_office_zip_text_fallback(stream: bytes, ext: str | None) -> str:
    """converter.py:108-119 — read the body XML member from the ZIP and
    run the XML fallback over it. ``ext`` is the effective extension
    (the reference derives it from the normalized file name)."""
    xml_path = OFFICE_ZIP_XML_PATH.get(ext or "")
    if not xml_path:
        return ""
    try:
        with zipfile.ZipFile(BytesIO(stream)) as archive:
            return extract_text_fallback(archive.read(xml_path), is_xml=True)
    except Exception:
        return ""
