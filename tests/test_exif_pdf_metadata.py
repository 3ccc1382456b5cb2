"""EXIF (APP1/IFD) and PDF /Info metadata extraction — the metadata
tier next to the text tier (q102/q103).

The oracles mirror generation parameters; these tests pin the parsers
against bytes the builders did NOT produce (hand-packed IFD fixtures,
hex-string /Info values) so builder and parser cannot share a bug.
"""

from __future__ import annotations

import struct

from ocr_service_spark.extraction.exif import (
    build_exif_blob,
    parse_exif,
    splice_app1,
)
from ocr_service_spark.extraction.jpeg_codec import encode_jpeg_gray
from ocr_service_spark.extraction.pdf_text import pdf_info, pdf_page_count
from ocr_service_spark.sources.pages import write_text_pdf


def _hand_packed_exif_le() -> bytes:
    """Minimal little-endian TIFF/EXIF packed by hand, independent of
    build_exif_blob: IFD0 with Orientation (inline SHORT) and Make
    (ASCII via external offset)."""
    make = b"HandCam\x00"
    # header(8) + IFD0: count(2) + 2*12 + next(4) = 38 -> ext data at 38
    ifd0 = struct.pack("<H", 2)
    ifd0 += struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<HH", 3, 0)
    ifd0 += struct.pack("<HHI", 0x010F, 2, len(make)) + struct.pack("<I", 38)
    ifd0 += struct.pack("<I", 0)
    return b"II*\x00" + struct.pack("<I", 8) + ifd0 + make


def test_parse_hand_packed_ifd_little_endian():
    meta = parse_exif(_hand_packed_exif_le())
    assert meta == {"orientation": 3, "make": "HandCam"}


def test_builder_parser_roundtrip_all_containers():
    for be in (False, True):
        blob = build_exif_blob("Cam1", "M2", 6, "2026:08:18 01:02:03", big_endian=be)
        want = {
            "make": "Cam1",
            "model": "M2",
            "orientation": 6,
            "datetime_original": "2026:08:18 01:02:03",
        }
        assert parse_exif(blob) == want  # raw TIFF container
        jpeg = splice_app1(encode_jpeg_gray(8, 8, bytes(range(64))), blob)
        assert parse_exif(jpeg) == want  # APP1 container
        # the spliced file must still be a decodable JPEG
        from ocr_service_spark.extraction.jpeg_codec import decode_jpeg_gray

        w, h, _px = decode_jpeg_gray(jpeg)
        assert (w, h) == (8, 8)


def test_exif_absent_or_junk_is_none():
    assert parse_exif(encode_jpeg_gray(8, 8, bytes(64))) is None
    assert parse_exif(b"") is None
    assert parse_exif(b"\xff\xd8junk") is None
    # truncated APP1 declaring more bytes than present
    assert parse_exif(b"\xff\xd8\xff\xe1\xff\xffExif\x00\x00II*\x00") is None


def _cyclic_sub_ifd() -> bytes:
    """IFD0 whose 0x8769 Exif sub-IFD pointer points back at IFD0 —
    the hostile-payload loop case. Orientation is still present so the
    parse must return a PARTIAL result, not recurse forever."""
    ifd0_off = 8
    ifd0 = struct.pack("<H", 2)
    ifd0 += struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<HH", 5, 0)
    ifd0 += struct.pack("<HHI", 0x8769, 4, 1) + struct.pack("<I", ifd0_off)
    ifd0 += struct.pack("<I", 0)
    return b"II*\x00" + struct.pack("<I", ifd0_off) + ifd0


def test_cyclic_sub_ifd_terminates_with_partial_parse():
    # untrusted-input contract: no RecursionError, loop detected via the
    # visited-offset set, the non-looping tags still come back
    assert parse_exif(_cyclic_sub_ifd()) == {"orientation": 5}


def test_deep_sub_ifd_chain_is_depth_capped():
    # a 64-deep chain of sub-IFD pointers, each hop a fresh offset: the
    # visited-set cap (8) must stop the walk without error
    n_hops = 64
    blob = bytearray(b"II*\x00" + struct.pack("<I", 8))
    ifd_size = 2 + 12 + 4
    for hop in range(n_hops):
        off = 8 + hop * ifd_size
        nxt = off + ifd_size
        ifd = struct.pack("<H", 1)
        ifd += struct.pack("<HHI", 0x8769, 4, 1) + struct.pack("<I", nxt)
        ifd += struct.pack("<I", 0)
        blob += ifd
    assert parse_exif(bytes(blob)) is None  # nothing wanted found; no crash


def _pdf(info_body: str | None, n_pages: int = 2) -> bytes:
    return write_text_pdf([f"p{k}" for k in range(n_pages)], info=info_body)


def test_pdf_info_literal_strings_and_page_count():
    pdf = _pdf("/Title (A Title) /Author (Someone) /Producer (tool) "
               "/CreationDate (D:20260818120000Z)", n_pages=3)
    assert pdf_page_count(pdf) == 3
    assert pdf_info(pdf) == {
        "title": "A Title",
        "author": "Someone",
        "producer": "tool",
        "creationdate": "D:20260818120000Z",
    }


def test_pdf_info_missing_is_all_none():
    meta = pdf_info(_pdf(None))
    assert meta == {k: None for k in ("title", "author", "producer", "creationdate")}


def test_pdf_info_utf16_hex_string_title():
    # <FEFF...> hex string: UTF-16BE with BOM, the other PDF text encoding
    hexs = "FEFF" + "".join(f"{ord(c):04X}" for c in "Döc")
    meta = pdf_info(_pdf(f"/Title <{hexs}> /Author (x)"))
    assert meta["title"] == "Döc"
    assert meta["author"] == "x"
    assert meta["producer"] is None


def test_pdf_info_pdfdoc_encoding_punctuation():
    # non-BOM strings are PDFDocEncoding, NOT Latin-1: 0x80-0x9F carry
    # bullets/dashes/curly quotes (ISO 32000-2 Annex D.4). A producer
    # string like "Tool(TM) - "smart" edition" hits exactly these bytes.
    body = b"/Producer (Tool\x92 \x85 \x8dsmart\x8e \x80)"
    # splice raw bytes: the builder API is str-based, so patch the Info
    # body bytes directly
    pdf = _pdf("/Producer (PLACEHOLDERXYZ) /Author (plain)")
    pdf = pdf.replace(b"(PLACEHOLDERXYZ)", body[len(b"/Producer ") :])
    meta = pdf_info(pdf)
    assert meta["producer"] == "Tool™ – “smart” •"
    assert meta["author"] == "plain"


def test_pdf_info_pdfdoc_control_block_accents():
    # 0x18-0x1F: breve/caron/circumflex/dot accents, distinct from the
    # C0 controls Latin-1 would produce
    pdf = _pdf("/Title (PLACEHOLDERXYZ)")
    pdf = pdf.replace(b"(PLACEHOLDERXYZ)", b"(a\x18b\x19c\x1e)")
    assert pdf_info(pdf)["title"] == "a˘bˇc˚"


def test_pdfdoc_encoding_euro_sign():
    """PDFDocEncoding 0xA0 is EURO SIGN (ISO 32000 Annex D), not the
    Latin-1 no-break space."""
    from ocr_service_spark.extraction.pdf_text import _pdf_text_string

    assert _pdf_text_string(b"Price \xa010") == "Price €10"
    assert _pdf_text_string(b"Caf\xe9") == "Café"  # plain Latin-1 range


# -- fuzz: parse_exif is total over untrusted bytes ---------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_parse_exif_fuzz_junk_never_raises(junk: bytes):
    out = parse_exif(junk)
    assert out is None or isinstance(out, dict)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10**9), st.binary(min_size=1, max_size=8))
def test_parse_exif_fuzz_corrupted_blob_never_raises(offset: int, patch: bytes):
    # a VALID blob with bytes stomped anywhere: the parser may salvage
    # fields or give up (None / partial dict), but never raise and
    # never loop — pointer cycles are offset-tracked in _walk_ifd
    blob = build_exif_blob("CamX", "M9", 3, "2026:08:19 12:00:00", big_endian=False)
    pos = offset % len(blob)
    mutated = blob[:pos] + patch + blob[pos + len(patch):]
    for payload in (mutated, splice_app1(encode_jpeg_gray(8, 8, bytes(64)), mutated)):
        out = parse_exif(payload)
        assert out is None or isinstance(out, dict)


# -- GPS sub-IFD + privacy scrub (q167) ------------------------------------------
def _gps_payloads():
    gps = ("N", (40, 26, 46), "W", (79, 58, 56))
    for be in (False, True):
        blob = build_exif_blob(
            "CamG", "M2", 5, "2026:08:19 12:34:00", big_endian=be, gps=gps
        )
        yield blob
        yield splice_app1(encode_jpeg_gray(8, 8, bytes(range(64))), blob)


def test_gps_builder_parser_roundtrip_both_endians_and_containers():
    for payload in _gps_payloads():
        meta = parse_exif(payload)
        assert meta["gps_lat_ref"] == "N" and meta["gps_lon_ref"] == "W"
        assert meta["gps_lat"] == [(40, 1), (26, 1), (46, 1)]
        assert meta["gps_lon"] == [(79, 1), (58, 1), (56, 1)]
        # non-GPS tags coexist
        assert meta["make"] == "CamG" and meta["orientation"] == 5


def test_hand_packed_gps_ifd_parses():
    """GPS IFD packed by hand (independent of build_exif_blob): IFD0
    carries only the 0x8825 pointer; the GPS IFD holds LatRef inline
    and Lat as three external RATIONALs."""
    # header(8) + IFD0: count(2)+1*12+next(4)=18 -> GPS IFD at 26
    ifd0 = struct.pack("<H", 1)
    ifd0 += struct.pack("<HHI", 0x8825, 4, 1) + struct.pack("<I", 26)
    ifd0 += struct.pack("<I", 0)
    # GPS IFD: count(2)+2*12+next(4)=30 -> rationals at 26+30=56
    gps = struct.pack("<H", 2)
    gps += struct.pack("<HHI", 0x0001, 2, 2) + b"S\x00\x00\x00"
    gps += struct.pack("<HHI", 0x0002, 5, 3) + struct.pack("<I", 56)
    gps += struct.pack("<I", 0)
    rats = struct.pack("<IIIIII", 12, 1, 30, 1, 45, 1)
    blob = b"II*\x00" + struct.pack("<I", 8) + ifd0 + gps + rats
    meta = parse_exif(blob)
    assert meta == {"gps_lat_ref": "S", "gps_lat": [(12, 1), (30, 1), (45, 1)]}


def test_scrub_gps_removes_coordinates_from_the_bytes():
    from ocr_service_spark.extraction.exif import scrub_gps

    for payload in _gps_payloads():
        scrubbed, had = scrub_gps(payload)
        assert had and len(scrubbed) == len(payload)
        after = parse_exif(scrubbed)
        assert not any(k.startswith("gps_") for k in after)
        # the rest of the EXIF survives the surgery
        assert after["make"] == "CamG"
        assert after["datetime_original"] == "2026:08:19 12:34:00"
        # coordinate bytes are ZEROED, not merely unreferenced
        for e in ("<", ">"):
            needle = struct.pack(e + "II", 40, 1) + struct.pack(e + "II", 26, 1)
            assert needle not in scrubbed


def test_scrub_gps_is_idempotent_and_total():
    from ocr_service_spark.extraction.exif import scrub_gps

    for payload in _gps_payloads():
        scrubbed, _ = scrub_gps(payload)
        again, had2 = scrub_gps(scrubbed)
        assert not had2 and again == scrubbed
    # no-GPS / no-EXIF / junk payloads pass through untouched
    plain = build_exif_blob("C", "M", 1, "2026:01:01 00:00:00")
    assert scrub_gps(plain) == (plain, False)
    assert scrub_gps(b"\xff\xd8\xff\xd9") == (b"\xff\xd8\xff\xd9", False)
    assert scrub_gps(b"junk") == (b"junk", False)


@settings(max_examples=150, deadline=None)
@given(
    offset=st.integers(min_value=0, max_value=300),
    patch=st.binary(min_size=1, max_size=4),
)
def test_scrub_gps_fuzz_corrupted_blob_never_raises_or_grows(offset, patch):
    from ocr_service_spark.extraction.exif import scrub_gps

    blob = build_exif_blob(
        "CamG", "M2", 5, "2026:08:19 12:34:00",
        gps=("N", (40, 26, 46), "W", (79, 58, 56)),
    )
    pos = offset % len(blob)
    mutated = blob[:pos] + patch + blob[pos + len(patch):]
    out, had = scrub_gps(mutated)
    assert isinstance(had, bool) and len(out) == len(mutated)
