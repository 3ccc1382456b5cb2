"""Legacy Excel/PowerPoint binary text readers (extraction/xls_text.py,
extraction/ppt_text.py) over handcrafted CFB fixtures — including the
BIFF8 CONTINUE split rule (fresh grbit when a string breaks inside
character data). Reference path: LibreOffice conversion
(converter.py:227-345)."""

from __future__ import annotations

import struct

from ocr_service_spark.extraction.pipeline import extract_document
from ocr_service_spark.extraction.ppt_text import extract_ppt_text
from ocr_service_spark.extraction.xls_text import extract_xls_text
from ocr_service_spark.sources.pages import build_cfb


def _rec(rtype: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rtype, len(payload)) + payload


def _sst_string(text: str, wide: bool = False) -> bytes:
    enc = text.encode("utf-16-le" if wide else "cp1252")
    return struct.pack("<HB", len(text), 0x01 if wide else 0x00) + enc


def _xls(records: list[bytes]) -> bytes:
    return build_cfb({"Workbook": b"".join(records)})


def test_xls_sst_and_label_strings():
    sst = struct.pack("<II", 3, 3) + _sst_string("alpha cell") + _sst_string(
        "β wide cell", wide=True
    ) + _sst_string("third")
    label = struct.pack("<HHH", 0, 0, 15) + _sst_string("inline label")
    blob = _xls([_rec(0x00FC, sst), _rec(0x0204, label), _rec(0x000A, b"")])
    text = extract_xls_text(blob)
    assert text.splitlines() == ["alpha cell", "β wide cell", "third", "inline label"]


def test_xls_continue_split_inside_chars():
    # "HELLOWORLD" split after "HELLO"; the CONTINUE re-specifies a
    # narrow grbit before the remaining chars ([MS-XLS] §2.5.293)
    sst_part = struct.pack("<II", 1, 1) + struct.pack("<HB", 10, 0x00) + b"HELLO"
    cont = b"\x00" + b"WORLD"
    blob = _xls([_rec(0x00FC, sst_part), _rec(0x003C, cont), _rec(0x000A, b"")])
    assert extract_xls_text(blob) == "HELLOWORLD"


def test_xls_continue_split_widens():
    # narrow start, CONTINUE restarts WIDE (grbit 0x01) — writers do
    # this when the remainder contains non-latin chars
    sst_part = struct.pack("<II", 1, 1) + struct.pack("<HB", 6, 0x00) + b"abc"
    cont = b"\x01" + "δεζ".encode("utf-16-le")
    blob = _xls([_rec(0x00FC, sst_part), _rec(0x003C, cont), _rec(0x000A, b"")])
    assert extract_xls_text(blob) == "abcδεζ"


def test_xls_rich_and_ext_runs_skipped():
    # rich (0x08) + phonetic-ext (0x04) payloads must be skipped, not
    # leak into the text
    s = struct.pack("<HB", 4, 0x0C) + struct.pack("<H", 2) + struct.pack("<I", 6)
    s += b"text" + b"\x01\x02\x03\x04" * 2 + b"EXTXXX"
    sst = struct.pack("<II", 2, 2) + s + _sst_string("after")
    blob = _xls([_rec(0x00FC, sst)])
    assert extract_xls_text(blob) == "text\nafter"


def test_ppt_text_atoms_and_containers():
    chars = "slide title".encode("utf-16-le")
    bytes_atom = "body text\rsecond line".encode("cp1252")
    inner = struct.pack("<HHI", 0, 0x0FA0, len(chars)) + chars
    inner += struct.pack("<HHI", 0, 0x0FA8, len(bytes_atom)) + bytes_atom
    container = struct.pack("<HHI", 0x000F, 0x03EE, len(inner)) + inner  # slide container
    doc = container + struct.pack("<HHI", 0, 0x0FA8, 5) + b"tail!"
    blob = build_cfb({"PowerPoint Document": doc})
    text = extract_ppt_text(blob)
    assert text.splitlines() == ["slide title", "body text", "second line", "tail!"]


def test_degenerate_inputs_return_empty():
    for fn in (extract_xls_text, extract_ppt_text):
        assert fn(b"") == ""
        assert fn(b"not ole at all") == ""
        assert fn(build_cfb({"Unrelated": b"x" * 64})) == ""


def test_xls_ppt_through_full_pipeline():
    sst = struct.pack("<II", 1, 1) + _sst_string("spreadsheet words")
    xls = _xls([_rec(0x00FC, sst)])
    row = extract_document(xls, "doc://1.xls")
    assert row["success"] is True and "spreadsheet words" in row["extracted_text"]
    assert row["fallback_reason"] == "no_pdf_produced"

    chars = "deck words".encode("utf-16-le")
    ppt = build_cfb(
        {"PowerPoint Document": struct.pack("<HHI", 0, 0x0FA0, len(chars)) + chars}
    )
    row = extract_document(ppt, "doc://2.ppt")
    assert row["success"] is True and "deck words" in row["extracted_text"]


# -- fuzz: never raise --------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=1024))
def test_fuzz_readers_never_raise(junk: bytes):
    for fn in (extract_xls_text, extract_ppt_text):
        assert isinstance(fn(junk), str)
        assert isinstance(fn(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + junk), str)
