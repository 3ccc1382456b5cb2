"""Per-document extraction orchestrator — the reference's request
lifecycle as a pure function.

``extract_document`` condenses ``Processor._process``
(processor.py:25-62), ``DocumentConverter.prepare``
(converter.py:449-563) and the ``build_response`` semantics
(utils/utils.py:154-197) for the deterministic NO_OCR tier:

- routes by ``doc_class`` exactly like the prepare if/elif chain;
- LibreOffice conversion (C2/C3) is structurally absent — office and
  unknown-binary payloads behave exactly like the reference does when
  LO produces no PDF (the reference's own unit tests pin this path:
  tests/test_filename_handling.py:104-124);
- the fallback cascade, reasons (``no_pdf_produced`` /
  ``converted_pdf_handling_failed``) and metadata keys match 1:1;
- any extraction exception reproduces ``process_stream``'s swallow:
  empty text + EMPTY metadata (processor.py:93-96);
- success/log_message follow build_response (utils/utils.py:179-187).

The function is Spark-agnostic: the mapInPandas operator in
``operators/extract.py`` calls it per payload inside Arrow batches.
Its response half, ``result_row``, is the one place a results row is
built; the salted big-PDF re-agg builds its rows through it too.
"""

from __future__ import annotations

from typing import Any

from ocr_service_spark.extraction.charset import decode_text, sniff_charset
from ocr_service_spark.extraction.classify import Classification, classify
from ocr_service_spark.extraction.fallback import (
    extract_office_zip_text_fallback,
    extract_text_fallback,
)
from ocr_service_spark.extraction.finalize import finalize_output_text, success_and_log
from ocr_service_spark.extraction.pdf_text import pdf_to_text
from ocr_service_spark.extraction.transfer import decode_transfer_encoding
from ocr_service_spark.extraction.xml_text import xml_iter_text

def _apply_text_fallback(
    stream: bytes, cls: Classification, meta: dict[str, Any], reason: str
) -> str:
    """converter.py:411-437."""
    text = extract_office_zip_text_fallback(stream, cls.ext)
    if not text and cls.ext in ("doc", "xls", "ppt"):
        # Legacy OLE binaries: the reference reaches this text through
        # LibreOffice (converter.py:227-345); here the WordDocument /
        # Workbook / PowerPoint-Document streams are read directly —
        # same cascade slot as the OOXML zip fallback above.
        if cls.ext == "doc":
            from ocr_service_spark.extraction.doc_text import extract_doc_text

            text = extract_doc_text(stream)
        elif cls.ext == "xls":
            from ocr_service_spark.extraction.xls_text import extract_xls_text

            text = extract_xls_text(stream)
        else:
            from ocr_service_spark.extraction.ppt_text import extract_ppt_text

            text = extract_ppt_text(stream)
    if not text:
        text = extract_text_fallback(
            stream, is_html=cls.is_html, is_xml=cls.is_xml, is_rtf=cls.is_rtf
        )
    meta["pages"] = 1
    meta["content-type"] = "text/plain"
    meta["fallback_reason"] = reason
    return text


def _process(stream: bytes, url: str, mode: str = "NO_OCR") -> tuple[str, dict[str, Any]]:
    """processor.py:25-62 + converter.py:449-563.

    ``mode`` mirrors OPERATION_MODE (settings.py:28): NO_OCR is the
    deterministic byte-parity tier; OCR routes image payloads through
    the pluggable engine (extraction/ocr_engine.py) and rasterizes PDFs
    when a rasterizer is present (reference swallow semantics when not:
    converter.py:213-225 returns empty images on any failure).
    """
    # transfer-encoding unwrap (beyond-reference web-corpus rung): a
    # gzip/zlib-wrapped payload is decompressed (budget-capped, see
    # extraction/transfer.py) and the inner document proceeds through
    # the normal route; undecodable payloads pass through unchanged.
    stream, content_encoding = decode_transfer_encoding(stream)

    cls = classify(stream, url)
    meta: dict[str, Any] = {"content-type": cls.content_type, "doc_class": cls.doc_class}
    if content_encoding:
        meta["content_encoding"] = content_encoding
    output_text = ""
    pdf_stream: bytes = b""

    if cls.doc_class == "encrypted_office":
        # converter.py:453-462
        meta["content-type"] = "application/vnd.openxmlformats-officedocument"
        meta["encrypted"] = True
        meta["unsupported_reason"] = "encrypted_office_document"
        meta["pages"] = 0
        return output_text, meta

    text_fallback_allowed = cls.is_xml or cls.is_rtf or cls.has_office_zip_fallback

    if cls.doc_class == "pdf":
        pdf_stream = stream
    elif cls.doc_class == "xml":
        meta["content-type"] = "text/xml"
        if mode == "NO_OCR":
            output_text = xml_iter_text(stream)  # exceptions propagate (converter.py:478)
            meta["pages"] = 1
        # OCR mode: xml->pdf converters absent -> no PDF -> T4 fallback below
    elif cls.doc_class == "html":
        meta["content-type"] = "text/html"
        if mode == "NO_OCR":
            output_text = extract_text_fallback(stream, is_html=True)
            meta["pages"] = 1
            # charset provenance (beyond-reference: Common-Crawl pages
            # are not all UTF-8). Recorded only when the sniff deviates
            # from the pinned UTF-8 default, so the byte-parity metadata
            # goldens for the UTF-8 fixture corpus are untouched.
            charset = sniff_charset(stream, markup=True)[0]
            if charset != "utf-8":
                meta["charset"] = charset
        # OCR mode: LO conversion absent -> no PDF -> T4 fallback below
    elif cls.doc_class == "rtf":
        if mode == "NO_OCR":
            output_text = extract_text_fallback(stream, is_rtf=True)
            meta["pages"] = 1
            meta["content-type"] = "text/plain"
        # OCR mode: LO conversion absent -> no PDF -> T4 fallback below
    elif cls.doc_class == "office":
        pdf_stream = b""  # LO conversion structurally absent -> no PDF produced
    elif cls.doc_class == "epub":
        # beyond-reference book rung: spine-ordered chapter extraction
        # through the house HTML extractor (extraction/epub_text.py);
        # a structurally broken book degrades to empty text -> the
        # normal no-text failure row, never an exception. EARLY RETURN
        # (the encrypted_office shape): a STORED epub's raw member
        # bytes look text-like to the sniffs (is_html fires on the
        # uncompressed XHTML members), so falling through would hand a
        # broken book to the T4 raw-text fallback, which would emit
        # the ZIP container bytes as a success=True "text" row.
        from ocr_service_spark.extraction.epub_text import extract_epub

        title, chapters = extract_epub(stream)
        output_text = "\n\n".join(chapters)
        meta["pages"] = len(chapters)
        if title:
            meta["epub_title"] = title
        return output_text, meta
    elif cls.doc_class == "media":
        # beyond-reference web-corpus rung (the reference has no media
        # route at all): audio/video payloads are never text-extracted —
        # they skip like NO_OCR images but carry container metadata so a
        # downstream multimodal tier can route on it without re-sniffing
        meta["pages"] = 1
        meta["media_skipped"] = True
        if cls.ext == "mp4":
            from ocr_service_spark.extraction.mp4_codec import (
                avc1_stream_info,
                mp4_video_track,
            )

            track = mp4_video_track(stream)
            if track is not None:
                meta["media_codec"] = track["codec"]
                meta["media_frames"] = len(track["samples"])
                if track["width"]:
                    meta["media_width"] = track["width"]
                    meta["media_height"] = track["height"]
                if track["codec"] == "avc1":
                    info = avc1_stream_info(stream, track=track)
                    if info is not None:
                        # SPS truth overrides the stsd dims (cropping)
                        meta["media_width"] = info["width"]
                        meta["media_height"] = info["height"]
                        meta["media_profile"] = info["profile_idc"]
                        meta["media_keyframes"] = len(info["keyframes"])
        elif cls.ext == "wav":
            # fmt-chunk walk (the operator-tier _wav_info does the full
            # RIFF parse; here only the routing metadata is needed)
            import struct as _struct

            pos = 12
            while pos + 8 <= len(stream):
                cid = stream[pos : pos + 4]
                csize = _struct.unpack_from("<I", stream, pos + 4)[0]
                if cid == b"fmt " and pos + 16 <= len(stream):
                    _tag, channels, sample_rate = _struct.unpack_from(
                        "<HHI", stream, pos + 8
                    )
                    meta["media_channels"] = channels
                    meta["media_sample_rate"] = sample_rate
                    break
                pos += 8 + csize + (csize & 1)
    elif cls.doc_class == "image":
        if mode == "NO_OCR":
            # converter.py:379-383 NO_OCR image skip
            meta["pages"] = 1
            meta["ocr_skipped"] = True
        else:
            # OCR tier: engine singleton recognition (ocr_engine.py:43-81);
            # one image == one page, confidence = round(mean, 4)
            from ocr_service_spark.extraction.ocr_engine import get_engine

            text, conf = get_engine().recognize(stream)
            output_text = text
            meta["pages"] = 1
            meta["confidence"] = round(conf, 4)
    elif cls.doc_class == "plain":
        # BOM -> UTF-8 probe -> cp1252 ladder; a valid-UTF-8 payload
        # (the whole pinned fixture corpus) decodes byte-identically to
        # the reference's plain utf-8/"ignore" passthrough.
        charset, output_text = decode_text(stream)
        meta["pages"] = 1
        meta["content-type"] = "text/plain"
        if charset != "utf-8":
            meta["charset"] = charset
    else:  # unknown -> LO attempt -> no PDF produced
        pdf_stream = b""

    # converter.py:529-536
    if not pdf_stream and not output_text and (cls.is_text_like or cls.has_office_text_fallback):
        output_text = _apply_text_fallback(stream, cls, meta, reason="no_pdf_produced")

    # converter.py:538-563
    if pdf_stream:
        if mode == "NO_OCR":
            try:
                output_text, pages = pdf_to_text(pdf_stream)
                meta["pages"] = pages
            except Exception:
                if not text_fallback_allowed:
                    raise
                output_text = _apply_text_fallback(
                    stream, cls, meta, reason="converted_pdf_handling_failed"
                )
            else:
                if text_fallback_allowed and not output_text:
                    output_text = _apply_text_fallback(
                        stream, cls, meta, reason="converted_pdf_handling_failed"
                    )
        else:
            # OCR mode: one open of the PDF gives the page count and
            # every page; each page goes to the engine as decoded pixels
            # (a Raster), never through an image encoding. A failed
            # open, an empty page tree or a failure on any page is
            # swallowed exactly like _preprocess_pdf_to_img
            # (converter.py:213-225): empty page set, no pages metadata
            images_present = False
            try:
                from ocr_service_spark.extraction.ocr_engine import (
                    get_engine,
                    open_pdf_for_raster,
                    rasterize_pdf_page,
                )

                doc, n_pages = open_pdf_for_raster(pdf_stream)
                engine = get_engine()
                texts, confs = [], []
                for page_no in range(n_pages):
                    text, conf = engine.recognize(rasterize_pdf_page(doc, page_no))
                    texts.append(text)
                    confs.append(conf)
                images_present = True
                output_text = "".join(texts)  # submission order (ocr_engine.py:67)
                # reference: pages metadata comes from image_count
                # (ocr_engine.py:80) — a rasterizer that produced no
                # images leaves the key unset (converter.py:213-225)
                meta["pages"] = n_pages
                meta["confidence"] = round(sum(confs) / len(confs), 4)
            except Exception:
                pass
            if text_fallback_allowed and not output_text and not images_present:
                output_text = _apply_text_fallback(
                    stream, cls, meta, reason="converted_pdf_handling_failed"
                )

    return finalize_output_text(output_text), meta


def extract_document(
    payload: bytes | None, url: str, mode: str = "NO_OCR"
) -> dict[str, Any]:
    """One pages-table row -> one results-table row (plain dict).

    Mirrors the full request lifecycle: null-payload skip
    (api/process.py:72-77), processing with exception swallow
    (processor.py:93-96), response semantics (utils/utils.py:154-197).
    ``mode`` is OPERATION_MODE (settings.py:28).
    """
    meta: dict[str, Any] = {}
    output_text = ""

    if payload is None:
        # api/process.py:72-77 — skipped before any processing
        meta = {"ocr_skipped": True, "skip_reason": "no_binary_data"}
    elif len(payload) == 0:
        # empty stream: the API never calls the processor (api/process.py:108-109)
        meta = {}
    else:
        try:
            output_text, meta = _process(bytes(payload), url, mode)
        except Exception:
            # processor.py:93-96 — swallowed, best-effort empty output
            output_text, meta = "", {}

    return result_row(url, output_text, meta)


def result_row(url: str, output_text: str, meta: dict[str, Any]) -> dict[str, Any]:
    """Finalized text + ``_process`` metadata -> one results-table row
    (utils/utils.py:154-197): the typed columns are promoted out of
    ``meta`` and the rest stays in the map<string,string> tail
    (FIXTURES.md A2). ``meta`` is consumed."""
    ocr_skipped = bool(meta.get("ocr_skipped"))
    # Reference nuance: for empty/None streams HTTP status is 200 but
    # build_response(success) is still driven by allow_empty_text=ocr_skipped
    # only; an empty non-skipped result is success=False (api/process.py:116-124).
    success, log_message = success_and_log(output_text, allow_empty_text=ocr_skipped)
    meta["log_message"] = log_message

    pages = meta.pop("pages", None)
    content_type = meta.pop("content-type", None)
    fallback_reason = meta.pop("fallback_reason", None)
    doc_class = meta.pop("doc_class", None)
    confidence = meta.pop("confidence", None)  # OCR tier only (ocr_engine.py:81)
    meta.pop("ocr_skipped", None)

    return {
        "url": url,
        "extracted_text": output_text,
        "content_type": content_type,
        "pages": pages,
        "confidence": confidence,
        "success": success,
        "ocr_skipped": ocr_skipped,
        "fallback_reason": fallback_reason,
        "doc_class": doc_class,
        "metadata": {k: str(v) for k, v in meta.items()},
    }
