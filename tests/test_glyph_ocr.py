"""From-scratch PNG codec + glyph OCR engine.

The codec is exercised against hand-filtered images (every PNG filter
type), the color-type conversions, and encode/decode roundtrips; the
engine against exact renders (confidence 100), every font character,
the reference similarity gate, and out-of-model input.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from ocr_service_spark.extraction.glyph_ocr import (
    FONT,
    GlyphOcrEngine,
    render_text_png,
)
from ocr_service_spark.extraction.png_codec import (
    PngError,
    decode_png_gray,
    encode_png_gray,
)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _png(width, height, bit_depth, color_type, raw_scanlines, plte=None) -> bytes:
    out = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
    )
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(raw_scanlines)) + _chunk(b"IEND", b"")


def test_gray_roundtrip():
    px = bytes(range(256)) * 4  # 32x32
    data = encode_png_gray(32, 32, px)
    w, h, luma = decode_png_gray(data)
    assert (w, h) == (32, 32)
    assert luma == px


def test_all_filter_types_unfilter_correctly():
    # 4x5 grayscale; rows filtered by hand with types 0..4
    rows = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45]),
            bytes([100, 110, 120, 130]), bytes([5, 6, 7, 8]), bytes([200, 0, 50, 255])]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(4)
    for y, (ftype, row) in enumerate(zip([0, 1, 2, 3, 4], rows)):
        raw.append(ftype)
        for i, v in enumerate(row):
            a = row[i - 1] if i >= 1 else 0
            b = prev[i]
            c = prev[i - 1] if i >= 1 else 0
            if ftype == 0:
                raw.append(v)
            elif ftype == 1:
                raw.append((v - a) & 0xFF)
            elif ftype == 2:
                raw.append((v - b) & 0xFF)
            elif ftype == 3:
                raw.append((v - ((a + b) >> 1)) & 0xFF)
            else:
                raw.append((v - paeth(a, b, c)) & 0xFF)
        prev = row
    w, h, luma = decode_png_gray(_png(4, 5, 8, 0, bytes(raw)))
    assert luma == b"".join(rows)


def test_rgb_palette_rgba_and_1bit_decode():
    # 2x1 RGB: pure red, pure green
    rgb = _png(2, 1, 8, 2, bytes([0, 255, 0, 0, 0, 255, 0]))
    assert decode_png_gray(rgb)[2] == bytes([76, 149])  # ITU-R 601 luma
    # palette: index 0 -> white, 1 -> black
    pal = _png(2, 1, 8, 3, bytes([0, 0, 1]), plte=bytes([255, 255, 255, 0, 0, 0]))
    assert decode_png_gray(pal)[2] == bytes([255, 0])
    # RGBA: opaque black, fully transparent black (composited on white)
    rgba = _png(2, 1, 8, 6, bytes([0, 0, 0, 0, 255, 0, 0, 0, 0]))
    assert decode_png_gray(rgba)[2] == bytes([0, 255])
    # 1-bit gray: bits 10 -> white, black
    onebit = _png(2, 1, 1, 0, bytes([0, 0b10000000]))
    assert decode_png_gray(onebit)[2] == bytes([255, 0])


def test_codec_rejects_junk():
    with pytest.raises(PngError):
        decode_png_gray(b"JFIF not a png")
    with pytest.raises(PngError):
        decode_png_gray(_png(2, 1, 8, 7, bytes(3)))  # bad color type


def test_engine_reads_back_every_font_character():
    eng = GlyphOcrEngine()
    alphabet = "".join(sorted(FONT))
    # spaces between glyphs so segmentation is per-character
    text = " ".join(alphabet)
    got, conf = eng.recognize(render_text_png(text))
    assert got == text
    assert conf == 100.0


def test_engine_multiline_and_case_exact():
    eng = GlyphOcrEngine()
    got, conf = eng.recognize(render_text_png("Hello World\nline 2, Mixed-Case."))
    assert got == "Hello World\nline 2, Mixed-Case."
    assert conf == 100.0


def test_engine_multi_space_runs_preserved():
    eng = GlyphOcrEngine()
    got, conf = eng.recognize(render_text_png("a  b   c d"))
    assert got == "a  b   c d"
    assert conf == 100.0


def test_engine_meets_reference_similarity_gate_on_rendered_fixture():
    # the reference acceptance rule for OCR output (test_process.py:23):
    # Levenshtein ratio >= 0.60 vs the expected text
    from ocr_service_spark.functions.similarity_gate import lev_similarity

    truth = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG 0123456789"
    got, _ = GlyphOcrEngine().recognize(render_text_png(truth))
    assert lev_similarity(got, truth) >= 0.60
    assert got == truth  # and in fact exact


def test_engine_degrades_gracefully_out_of_model(fixture_bytes):
    eng = GlyphOcrEngine()
    assert eng.recognize(b"GIF89a...") == ("", 0.0)
    # the real reference scan is no longer a degradation case: the
    # scaled path reads it (tests/test_scan_ocr.py pins the similarity
    # floors); it must still report honest sub-certain confidence
    text, conf = eng.recognize(fixture_bytes("generic/pat_id_1.png"))
    assert isinstance(text, str) and "Davidson" in text and 0 < conf < 100
    # genuinely unreadable pixels (structured noise) stay low-trust and
    # never crash
    from ocr_service_spark.extraction.png_codec import encode_png_gray

    noise = bytes(((x * 37 + y * 101) * 17) % 256 for y in range(64) for x in range(64))
    text, conf = eng.recognize(encode_png_gray(64, 64, noise))
    assert isinstance(text, str) and 0 <= conf < 100


def test_codec_ladder_never_crashes_on_fuzz():
    """Truncations and bit-flips of valid images must yield a decoded
    plane or None — never an uncaught exception — and the OCR engine
    must uphold its ('', 0.0) contract on every undecodable input."""
    import random

    from ocr_service_spark.extraction.image_codecs import decode_image_luma
    from ocr_service_spark.extraction.jpeg_codec import encode_jpeg_gray

    rng = random.Random(11)
    px = bytes(rng.randrange(256) for _ in range(16 * 16))
    seeds = [
        render_text_png("FUZZ SEED"),
        encode_jpeg_gray(16, 16, px),
        b"GIF89a" + bytes(rng.randrange(256) for _ in range(64)),
        b"II*\x00" + bytes(rng.randrange(256) for _ in range(64)),
        b"BM" + bytes(rng.randrange(256) for _ in range(64)),
    ]
    eng = GlyphOcrEngine()
    for seed in seeds:
        for _ in range(40):
            data = bytearray(seed)
            op = rng.randrange(3)
            if op == 0:
                data = data[: rng.randrange(1, len(data))]
            elif op == 1:
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
            else:
                for _ in range(8):
                    data[rng.randrange(len(data))] = rng.randrange(256)
            out = decode_image_luma(bytes(data))
            if out is not None:
                w, h, luma = out
                assert len(luma) == w * h
            text, conf = eng.recognize(bytes(data))
            assert isinstance(text, str) and 0.0 <= conf <= 100.0


# ---------------------------------------------------------------------------
# Row-bytes recognizer and rasterizer against per-pixel oracles
# ---------------------------------------------------------------------------


def _oracle_recognize_luma(width: int, height: int, luma: bytes) -> tuple[str, float]:
    """The per-pixel recognizer the row-bytes kernel must reproduce."""
    from ocr_service_spark.extraction.glyph_ocr import ADVANCE, _match_glyph
    from ocr_service_spark.extraction.scan_ocr import recognize_scan

    def line_bands(ink_rows):
        bands, start = [], None
        for y, has in enumerate(ink_rows):
            if has and start is None:
                start = y
            elif not has and start is not None:
                bands.append((start, y))
                start = None
        if start is not None:
            bands.append((start, len(ink_rows)))
        return bands

    ink = [luma[i] < 128 for i in range(width * height)]
    row_has = [any(ink[y * width : (y + 1) * width]) for y in range(height)]
    bands = line_bands(row_has)
    if not bands or any(y1 - y0 > 9 for y0, y1 in bands):
        return recognize_scan(width, height, luma)
    out_lines, confs = [], []
    for y0, y1 in bands:
        col_has = [any(ink[y * width + x] for y in range(y0, y1)) for x in range(width)]
        segs, start = [], None
        for x, has in enumerate(col_has):
            if has and start is None:
                start = x
            elif not has and start is not None:
                segs.append((start, x))
                start = None
        if start is not None:
            segs.append((start, width))
        chars, prev_end = [], None
        for x0, x1 in segs:
            if prev_end is not None and x0 - prev_end >= ADVANCE:
                chars.append(" " * ((x0 - prev_end - 1) // ADVANCE))
            prev_end = x1
            cells = [
                (y - y0, x - x0)
                for y in range(y0, y1)
                for x in range(x0, x1)
                if ink[y * width + x]
            ]
            ch, conf = _match_glyph(cells)
            chars.append(ch)
            confs.append(conf)
        out_lines.append("".join(chars))
    return "\n".join(out_lines), round(sum(confs) / max(len(confs), 1), 4)


def _random_text(rng) -> str:
    alphabet = "".join(sorted(FONT)) + "    "
    lines = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24)))
        for _ in range(rng.randrange(1, 5))
    ]
    return "\n".join(lines)


def _assert_parity(width, height, luma):
    assert GlyphOcrEngine()._recognize_luma(width, height, luma) == _oracle_recognize_luma(
        width, height, luma
    )


def test_recognizer_matches_per_pixel_oracle_on_renders():
    import random

    from ocr_service_spark.extraction.glyph_ocr import render_text_luma

    rng = random.Random(16)
    texts = ["", "a  b   c d", "A\n\nB", "     x"] + [_random_text(rng) for _ in range(40)]
    for text in texts:
        _assert_parity(*render_text_luma(text))


def test_recognizer_matches_per_pixel_oracle_on_pixel_flips():
    import random

    from ocr_service_spark.extraction.glyph_ocr import render_text_luma

    rng = random.Random(17)
    for _ in range(60):
        width, height, luma = render_text_luma(_random_text(rng))
        px = bytearray(luma)
        for _ in range(rng.randrange(1, 12)):
            px[rng.randrange(len(px))] = rng.choice((0, 127, 128, 255))
        _assert_parity(width, height, bytes(px))


def test_recognizer_reads_only_the_first_width_times_height_bytes():
    from ocr_service_spark.extraction.glyph_ocr import render_text_luma

    width, height, luma = render_text_luma("Tail bytes\nignored")
    longer = luma + bytes(3 * width)  # an ink band past the page
    _assert_parity(width, height, longer)
    assert GlyphOcrEngine()._recognize_luma(width, height, longer)[0] == "Tail bytes\nignored"


def test_recognizer_sends_tall_bands_to_scan_path_with_original_luma(monkeypatch):
    from ocr_service_spark.extraction import scan_ocr

    width, height = 20, 16
    px = bytearray([255]) * (width * height)
    for y in range(2, 14):  # one 12-row band: taller than 9
        px[y * width + 5] = 0
    luma = bytes(px) + b"\x00\x00"
    _assert_parity(width, height, luma)
    seen = []
    monkeypatch.setattr(scan_ocr, "recognize_scan", lambda *a: seen.append(a) or ("", 0.0))
    assert GlyphOcrEngine()._recognize_luma(width, height, luma) == ("", 0.0)
    blank = bytes([255]) * (width * height)
    assert GlyphOcrEngine()._recognize_luma(width, height, blank) == ("", 0.0)
    assert seen == [(width, height, luma), (width, height, blank)]


def test_recognizer_raises_on_short_luma_like_the_oracle():
    from ocr_service_spark.extraction.glyph_ocr import render_text_luma

    width, height, luma = render_text_luma("short")
    with pytest.raises(IndexError):
        _oracle_recognize_luma(width, height, luma[:-1])
    with pytest.raises(IndexError):
        GlyphOcrEngine()._recognize_luma(width, height, luma[:-1])


def _paint_per_cell(text: str, ink: int = 0, paper: int = 255):
    """The one-pixel-per-cell painter the row rasterizer must match."""
    from ocr_service_spark.extraction.glyph_ocr import ADVANCE, LINE_PITCH, MARGIN

    lines = text.splitlines() or [""]
    width = 2 * MARGIN + max(1, max(len(ln) for ln in lines)) * ADVANCE
    height = 2 * MARGIN + len(lines) * LINE_PITCH
    px = bytearray([paper]) * (width * height)
    for li, line in enumerate(lines):
        y0 = MARGIN + li * LINE_PITCH
        for ci, ch in enumerate(line):
            x0 = MARGIN + ci * ADVANCE
            for r, c in FONT.get(ch, ()):
                px[(y0 + r) * width + (x0 + c)] = ink
    return width, height, bytes(px)


@pytest.mark.parametrize(
    "text,ink,paper",
    [
        ("".join(sorted(FONT)), 0, 255),
        ("\n".join(sorted(FONT)), 0, 255),
        ("ab ~ _\"é\tZ", 0, 255),  # characters outside the font stay blank
        ("first line\n\n  third, line\nLAST", 0, 255),
        ("", 0, 255),
        ("Ink 200 on paper 17", 200, 17),
        ("same\ncolor", 90, 90),
        ("0/1 swapped", 1, 0),
    ],
)
def test_render_text_luma_matches_per_cell_painter(text, ink, paper):
    from ocr_service_spark.extraction.glyph_ocr import render_text_luma

    assert tuple(render_text_luma(text, ink, paper)) == _paint_per_cell(text, ink, paper)
