"""Legacy .doc (Word 97-2003) reader: CFB stream walk + piece-table
text extraction (extraction/doc_text.py). Reference gate: LibreOffice
conversion of generic/pat_id_1.doc in tests/test_process.py:115-167."""

from __future__ import annotations

import struct

import pytest

from ocr_service_spark.extraction.doc_text import (
    _normalize_word_text,
    cfb_streams,
    extract_doc_text,
)
from ocr_service_spark.extraction.pipeline import extract_document


@pytest.fixture(scope="module")
def doc(fixture_bytes) -> bytes:
    return fixture_bytes("generic/pat_id_1.doc")


def test_cfb_streams_names_and_sizes(doc):
    streams = cfb_streams(doc)
    assert "worddocument" in streams
    assert "1table" in streams or "0table" in streams
    # WordDocument stream is sector-padded but non-trivial
    assert len(streams["worddocument"]) >= 1024


def test_extract_doc_text_fixture(doc):
    text = extract_doc_text(doc)
    assert "Bart Davidson" in text
    assert "07754828992" in text
    assert "Paracetamol" in text
    # control chars normalized away
    assert "\r" not in text and "\x07" not in text


def test_doc_through_full_pipeline(doc):
    row = extract_document(doc, "https://fixtures.test/generic/pat_id_1.doc")
    assert row["success"] is True
    assert "Bart Davidson" in row["extracted_text"]
    assert row["doc_class"] == "office"
    assert row["fallback_reason"] == "no_pdf_produced"


def test_non_doc_payloads_return_empty():
    assert extract_doc_text(b"") == ""
    assert extract_doc_text(b"plain text, not OLE") == ""
    # valid OLE signature but truncated body
    assert extract_doc_text(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 100) == ""


def test_encrypted_doc_flag_returns_empty(doc):
    # flip fEncrypted (bit 8 of the FIB flags) in the WordDocument stream
    # inside a copy of the fixture: extractor must bail, not emit garbage.
    streams = cfb_streams(doc)
    wd = bytearray(streams["worddocument"])
    flags = struct.unpack_from("<H", wd, 0x0A)[0]
    struct.pack_into("<H", wd, 0x0A, flags | 0x0100)
    # splice the mutated stream back at its byte offset in the file: the
    # fixture's WordDocument is a single FAT chain starting in sector 0
    idx = doc.index(bytes(streams["worddocument"][:64]))
    mutated = doc[:idx] + bytes(wd[:64]) + doc[idx + 64 :]
    # only the flag word changed; if layout assumptions drift the
    # extractor still returns a string (never raises)
    assert isinstance(extract_doc_text(mutated), str)


def test_word_text_normalization():
    assert _normalize_word_text("a\rb") == "a\nb"
    assert _normalize_word_text("cell\x07mark") == "cell\nmark"
    assert _normalize_word_text("fi\x13eld\x14x\x15") == "fieldx"
    assert _normalize_word_text("keep\ttab\nnl") == "keep\ttab\nnl"


# -- fuzz: the reader must never raise, whatever the bytes -------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2048))
def test_fuzz_junk_never_raises(junk: bytes):
    assert isinstance(extract_doc_text(junk), str)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1024))
def test_fuzz_ole_prefixed_junk_never_raises(junk: bytes):
    # valid OLE magic + garbage header/body
    assert isinstance(extract_doc_text(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + junk), str)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=22000), st.binary(min_size=1, max_size=8))
def test_fuzz_corrupted_fixture_never_raises(doc, offset: int, patch: bytes):
    # splice random bytes into the real fixture: truncations, bad FIB
    # offsets, broken piece tables — all must degrade to '' or partial
    # text, never an exception
    data = doc[:offset] + patch + doc[offset + len(patch):]
    assert isinstance(extract_doc_text(data), str)


# -- handcrafted .doc: exercises the UTF-16 piece branch and multi-piece
# -- concat, which the all-cp1252 single-piece fixture cannot reach ----------

from ocr_service_spark.sources.pages import build_cfb


def _build_doc(pieces: list[tuple[str, bool]], which_table: int = 1) -> bytes:
    """Word binary with an explicit piece table: pieces are
    (text, compressed) — compressed = CP1252 bytes at fc/2, else
    UTF-16LE at fc."""
    wd = bytearray(2048)
    struct.pack_into("<H", wd, 0, 0xA5EC)          # wIdent
    struct.pack_into("<H", wd, 2, 0x00C1)          # nFib
    struct.pack_into("<H", wd, 0x0A, (which_table & 1) << 9)
    csw, cslw, cb_fc_lcb = 14, 22, 0x005D
    struct.pack_into("<H", wd, 32, csw)
    pos = 34 + csw * 2
    struct.pack_into("<H", wd, pos, cslw)
    fib_rg_lw = pos + 2
    ccp_text = sum(len(t) for t, _ in pieces)
    struct.pack_into("<I", wd, fib_rg_lw + 12, ccp_text)
    pos = fib_rg_lw + cslw * 4
    struct.pack_into("<H", wd, pos, cb_fc_lcb)
    blob = pos + 2
    # lay piece text into the WordDocument stream after the FIB blob
    cursor = blob + cb_fc_lcb * 8 + 64
    pcds, cps, cp = [], [0], 0
    for text, compressed in pieces:
        if compressed:
            raw = text.encode("cp1252")
            fc = (cursor * 2) | 0x40000000
        else:
            raw = text.encode("utf-16-le")
            fc = cursor
        wd[cursor : cursor + len(raw)] = raw
        cursor += len(raw)
        cp += len(text)
        cps.append(cp)
        pcds.append(struct.pack("<HIH", 0, fc, 0))
    plc = struct.pack(f"<{len(cps)}I", *cps) + b"".join(pcds)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    table = bytearray(512)
    fc_clx = 64
    table[fc_clx : fc_clx + len(clx)] = clx
    struct.pack_into("<II", wd, blob + 33 * 8, fc_clx, len(clx))
    return build_cfb(
        {"WordDocument": bytes(wd), f"{which_table}Table": bytes(table)}
    )


def test_handcrafted_doc_utf16_and_multipiece():
    doc = _build_doc([("ascii piece. ", True), ("unicode é€ piece", False)])
    assert extract_doc_text(doc) == "ascii piece. unicode é€ piece"


def test_handcrafted_doc_0table_flag():
    doc = _build_doc([("zero table stream", True)], which_table=0)
    assert extract_doc_text(doc) == "zero table stream"


def test_handcrafted_doc_control_chars_normalized():
    doc = _build_doc([("line one\rline two\x07cell", True)])
    assert extract_doc_text(doc) == "line one\nline two\ncell"


def test_handcrafted_cfb_roundtrip_streams():
    blob = build_cfb({"Alpha": b"A" * 5000, "Beta": b"B" * 100})
    streams = cfb_streams(blob)
    assert streams["alpha"] == b"A" * 5000
    assert streams["beta"] == b"B" * 100
