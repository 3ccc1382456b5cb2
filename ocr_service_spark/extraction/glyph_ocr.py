"""Deterministic glyph-matching OCR engine (no native binaries).

The reference OCR tier is tesseract (ocr_engine.py:25-81 of
CogStack/ocr-service); tesseract cannot be vendored into this sandbox,
so this module provides a REAL — if deliberately simple — recognition
engine so the whole OCR pipeline (decode -> binarize -> segment ->
classify -> confidence) runs end-to-end on actual pixels rather than a
hash stub:

- a 5x7 dot-matrix font (original patterns, defined below) with a
  fixed 6px advance and 10px line pitch;
- ``render_text_luma`` rasterizes text in that font to a ``Raster``
  (the OCR branch's PDF page fallback); ``render_text_png`` encodes
  that with the from-scratch PNG codec — the test corpus generator;
- ``GlyphOcrEngine`` takes a ``Raster`` as is or decodes any image
  (not just ones this module rendered), then recognizes the pixels:
  it binarizes at mid-gray, splits ink rows into line bands,
  segments glyphs on empty columns, and classifies each glyph by
  minimum Hamming distance against the font templates over the 5x7
  cell grid. Confidence per glyph = (1 - hamming/35) * 100; page
  confidence is the mean — matching the engine contract
  (text, mean word confidence 0..100).

On a clean render the engine is exact (distance 0, confidence 100).
On arbitrary scanned/antialiased images it degrades gracefully: it
still returns its best low-confidence guess, like any OCR engine on
out-of-model input. Undecodable inputs yield ("", 0.0) — the
empty-page contract (reference ocr_engine.py:37).
"""

from __future__ import annotations

import re

from ocr_service_spark.extraction.ocr_engine import Raster

# 5 columns x 7 rows; 'X' = ink. Original dot-matrix designs.
_RAW_FONT = {
    "A": ".XXX.|X...X|X...X|XXXXX|X...X|X...X|X...X",
    "B": "XXXX.|X...X|X...X|XXXX.|X...X|X...X|XXXX.",
    "C": ".XXX.|X...X|X....|X....|X....|X...X|.XXX.",
    "D": "XXXX.|X...X|X...X|X...X|X...X|X...X|XXXX.",
    "E": "XXXXX|X....|X....|XXXX.|X....|X....|XXXXX",
    "F": "XXXXX|X....|X....|XXXX.|X....|X....|X....",
    "G": ".XXX.|X...X|X....|X.XXX|X...X|X...X|.XXXX",
    "H": "X...X|X...X|X...X|XXXXX|X...X|X...X|X...X",
    "I": "XXXXX|..X..|..X..|..X..|..X..|..X..|XXXXX",
    "J": "..XXX|...X.|...X.|...X.|...X.|X..X.|.XX..",
    "K": "X...X|X..X.|X.X..|XX...|X.X..|X..X.|X...X",
    "L": "X....|X....|X....|X....|X....|X....|XXXXX",
    "M": "X...X|XX.XX|X.X.X|X.X.X|X...X|X...X|X...X",
    "N": "X...X|XX..X|X.X.X|X..XX|X...X|X...X|X...X",
    "O": ".XXX.|X...X|X...X|X...X|X...X|X...X|.XXX.",
    "P": "XXXX.|X...X|X...X|XXXX.|X....|X....|X....",
    "Q": ".XXX.|X...X|X...X|X...X|X.X.X|X..X.|.XX.X",
    "R": "XXXX.|X...X|X...X|XXXX.|X.X..|X..X.|X...X",
    "S": ".XXXX|X....|X....|.XXX.|....X|....X|XXXX.",
    "T": "XXXXX|..X..|..X..|..X..|..X..|..X..|..X..",
    "U": "X...X|X...X|X...X|X...X|X...X|X...X|.XXX.",
    "V": "X...X|X...X|X...X|X...X|X...X|.X.X.|..X..",
    "W": "X...X|X...X|X...X|X.X.X|X.X.X|XX.XX|X...X",
    "X": "X...X|X...X|.X.X.|..X..|.X.X.|X...X|X...X",
    "Y": "X...X|X...X|.X.X.|..X..|..X..|..X..|..X..",
    "Z": "XXXXX|....X|...X.|..X..|.X...|X....|XXXXX",
    "0": ".XXX.|X...X|X..XX|X.X.X|XX..X|X...X|.XXX.",
    "1": "..X..|.XX..|..X..|..X..|..X..|..X..|XXXXX",
    "2": ".XXX.|X...X|....X|...X.|..X..|.X...|XXXXX",
    "3": "XXXXX|...X.|..X..|...X.|....X|X...X|.XXX.",
    "4": "...X.|..XX.|.X.X.|X..X.|XXXXX|...X.|...X.",
    "5": "XXXXX|X....|XXXX.|....X|....X|X...X|.XXX.",
    "6": "..XX.|.X...|X....|XXXX.|X...X|X...X|.XXX.",
    "7": "XXXXX|....X|...X.|..X..|.X...|.X...|.X...",
    "8": ".XXX.|X...X|X...X|.XXX.|X...X|X...X|.XXX.",
    "9": ".XXX.|X...X|X...X|.XXXX|....X|...X.|.XX..",
    ".": ".....|.....|.....|.....|.....|.XX..|.XX..",
    ",": ".....|.....|.....|.....|.XX..|..X..|.X...",
    "-": ".....|.....|.....|XXXXX|.....|.....|.....",
    ":": ".....|.XX..|.XX..|.....|.XX..|.XX..|.....",
    "/": "....X|...X.|...X.|..X..|.X...|.X...|X....",
    "(": "..X..|.X...|.X...|.X...|.X...|.X...|..X..",
    ")": "..X..|...X.|...X.|...X.|...X.|...X.|..X..",
    "!": "..X..|..X..|..X..|..X..|..X..|.....|..X..",
    "?": ".XXX.|X...X|....X|...X.|..X..|.....|..X..",
    "'": "..X..|..X..|.....|.....|.....|.....|.....",
    "+": ".....|..X..|..X..|XXXXX|..X..|..X..|.....",
    "=": ".....|.....|XXXXX|.....|XXXXX|.....|.....",
    "%": "XX..X|XX..X|...X.|..X..|.X...|X..XX|X..XX",
    ";": ".....|.XX..|.XX..|.....|.XX..|..X..|.X...",
    "&": ".XX..|X..X.|X.X..|.X...|X.X.X|X..X.|.XX.X",
    "*": ".....|..X..|X.X.X|.XXX.|X.X.X|..X..|.....",
    "$": "..X..|.XXXX|X.X..|.XXX.|..X.X|XXXX.|..X..",
    "#": ".X.X.|XXXXX|.X.X.|.X.X.|.X.X.|XXXXX|.X.X.",
    "@": ".XXX.|X...X|X.XXX|X.X.X|X.XXX|X....|.XXX.",
    "a": ".....|.....|.XXX.|....X|.XXXX|X...X|.XXXX",
    "b": "X....|X....|XXXX.|X...X|X...X|X...X|XXXX.",
    "c": ".....|.....|.XXX.|X....|X....|X...X|.XXX.",
    "d": "....X|....X|.XXXX|X...X|X...X|X...X|.XXXX",
    "e": ".....|.....|.XXX.|X...X|XXXXX|X....|.XXX.",
    "f": "..XX.|.X..X|.X...|XXX..|.X...|.X...|.X...",
    "g": ".....|.XXXX|X...X|X...X|.XXXX|....X|.XXX.",
    "h": "X....|X....|XXXX.|X...X|X...X|X...X|X...X",
    "i": "..X..|.....|.XX..|..X..|..X..|..X..|.XXX.",
    "j": "...X.|.....|..XX.|...X.|...X.|X..X.|.XX..",
    "k": "X....|X....|X..X.|X.X..|XX...|X.X..|X..X.",
    "l": ".XX..|..X..|..X..|..X..|..X..|..X..|.XXX.",
    "m": ".....|.....|XX.X.|X.X.X|X.X.X|X.X.X|X.X.X",
    "n": ".....|.....|XXXX.|X...X|X...X|X...X|X...X",
    "o": ".....|.....|.XXX.|X...X|X...X|X...X|.XXX.",
    "p": ".....|XXXX.|X...X|X...X|XXXX.|X....|X....",
    "q": ".....|.XXXX|X...X|X...X|.XXXX|....X|....X",
    "r": ".....|.....|X.XX.|XX..X|X....|X....|X....",
    "s": ".....|.....|.XXXX|X....|.XXX.|....X|XXXX.",
    "t": ".X...|.X...|XXXX.|.X...|.X...|.X..X|..XX.",
    "u": ".....|.....|X...X|X...X|X...X|X...X|.XXXX",
    "v": ".....|.....|X...X|X...X|X...X|.X.X.|..X..",
    "w": ".....|.....|X...X|X...X|X.X.X|X.X.X|.X.X.",
    "x": ".....|.....|X...X|.X.X.|..X..|.X.X.|X...X",
    "y": ".....|X...X|X...X|X...X|.XXXX|....X|.XXX.",
    "z": ".....|.....|XXXXX|...X.|..X..|.X...|XXXXX",
}

GLYPH_W, GLYPH_H = 5, 7
ADVANCE, LINE_PITCH = 6, 10
MARGIN = 3

# template -> frozenset of (row, col) ink cells
FONT: dict[str, frozenset[tuple[int, int]]] = {
    ch: frozenset(
        (r, c)
        for r, row in enumerate(rows.split("|"))
        for c, cell in enumerate(row)
        if cell == "X"
    )
    for ch, rows in _RAW_FONT.items()
}

# template -> its GLYPH_H pixel rows across one ADVANCE-wide cell
# (the glyph plus its gap column), 1 = ink, 0 = paper
_GLYPH_ROWS: dict[str, tuple[bytes, ...]] = {
    ch: tuple(bytes((r, c) in cells for c in range(ADVANCE)) for r in range(GLYPH_H))
    for ch, cells in FONT.items()
}
_BLANK_CELL = (bytes(ADVANCE),) * GLYPH_H


def render_text_luma(text: str, ink: int = 0, paper: int = 255) -> Raster:
    """Rasterize ``text`` (multi-line) in the 5x7 font -> its pixels.

    Case-exact (the font carries both cases); unknown characters render
    as blank cells. Each text line is painted as its GLYPH_H pixel rows,
    each row joined from its glyphs' cell rows; the page is painted in
    0/1 and mapped to ``paper``/``ink`` once at the end.
    """
    lines = text.splitlines() or [""]
    width = 2 * MARGIN + max(1, max(len(ln) for ln in lines)) * ADVANCE
    height = 2 * MARGIN + len(lines) * LINE_PITCH
    px = bytearray(width * height)
    for li, line in enumerate(lines):
        at = (MARGIN + li * LINE_PITCH) * width + MARGIN
        for row in map(b"".join, zip(*(_GLYPH_ROWS.get(ch, _BLANK_CELL) for ch in line))):
            px[at : at + len(row)] = row
            at += width
    colors = bytes.maketrans(b"\x00\x01", bytes((paper, ink)))
    return Raster(width, height, bytes(px.translate(colors)))


def render_text_png(text: str, ink: int = 0, paper: int = 255) -> bytes:
    """``render_text_luma`` encoded as a grayscale PNG."""
    from ocr_service_spark.extraction.png_codec import encode_png_gray

    raster = render_text_luma(text, ink, paper)
    return encode_png_gray(raster.width, raster.height, raster.luma)


# binarization at mid-gray: byte v -> 1 if ink (v < 128) else 0
_BINARIZE = bytes(v < 128 for v in range(256))
_RUNS = re.compile(rb"[^\x00]+")  # runs of inked rows / columns


def _classify(cells: frozenset[tuple[int, int]]) -> tuple[str, int]:
    """Nearest template by Hamming distance over the 5x7 grid."""
    best_ch, best_d = "?", GLYPH_W * GLYPH_H + 1
    for ch, tmpl in FONT.items():
        d = len(cells ^ tmpl)
        if d < best_d or (d == best_d and ch < best_ch):
            best_ch, best_d = ch, d
    return best_ch, best_d


# trimmed-pattern -> char exact-match fast path; build-time uniqueness
# check guarantees no two templates are translates of each other (the
# reason '_' and '"' are not in the font)
def _trim(cells) -> frozenset[tuple[int, int]]:
    rmin = min(r for r, _ in cells)
    cmin = min(c for _, c in cells)
    return frozenset((r - rmin, c - cmin) for r, c in cells)


_EXACT: dict[frozenset[tuple[int, int]], str] = {}
for _ch, _tmpl in FONT.items():
    _key = _trim(_tmpl)
    assert _key not in _EXACT, f"font templates {_EXACT.get(_key)}/{_ch} are translates"
    _EXACT[_key] = _ch


def _match_glyph(cells: list[tuple[int, int]]) -> tuple[str, float]:
    """Best template over every placement of the glyph's trimmed
    bounding box inside the 5x7 cell (a '.' segmented from a line band
    that starts above it must still land on the template's baseline
    rows). Ink falling outside the cell counts as distance, so oversize
    blobs from out-of-model images score honestly low."""
    rmin = min(r for r, _ in cells)
    cmin = min(c for _, c in cells)
    trimmed = [(r - rmin, c - cmin) for r, c in cells]
    exact = _EXACT.get(frozenset(trimmed))
    if exact is not None:  # clean render: skip the placement search
        return exact, 100.0
    h_t = 1 + max(r for r, _ in trimmed)
    w_t = 1 + max(c for _, c in trimmed)
    best_ch, best_d = "?", 10**9
    for dy in range(max(1, GLYPH_H - h_t + 1)):
        for dx in range(max(1, GLYPH_W - w_t + 1)):
            placed, dropped = set(), 0
            for r, c in trimmed:
                if r + dy < GLYPH_H and c + dx < GLYPH_W:
                    placed.add((r + dy, c + dx))
                else:
                    dropped += 1
            ch, d = _classify(frozenset(placed))
            if d + dropped < best_d:
                best_ch, best_d = ch, d + dropped
    conf = max(0.0, 100.0 * (1.0 - best_d / (GLYPH_W * GLYPH_H)))
    return best_ch, conf


class GlyphOcrEngine:
    """Real pixel-level OCR for the 5x7 dot-matrix font (see module
    docstring). Satisfies the OcrEngine protocol."""

    def recognize(self, image: bytes | Raster) -> tuple[str, float]:
        if isinstance(image, Raster):
            return self._recognize_luma(image.width, image.height, image.luma)
        from ocr_service_spark.extraction.image_codecs import decode_image_luma

        decoded = decode_image_luma(image)
        if decoded is None:
            # undecodable input: the empty-page contract (reference
            # ocr_engine.py:37 — denominator max(len,1) -> 0.0)
            return "", 0.0
        return self._recognize_luma(*decoded)

    def _recognize_luma(self, width: int, height: int, luma: bytes) -> tuple[str, float]:
        """Recognition on decoded row-major 8-bit grayscale pixels.

        Works on whole pixel rows, never per pixel: one binarizing
        translate, inked rows by byte search, a line band's column
        projection as the OR of its rows, glyph segments as regex runs.
        Each distinct glyph bitmap is matched once per page; the memo
        holds at most one entry per glyph on the page and ends with it.
        """
        n = width * height
        if len(luma) < n:  # a truncated page fails, as any short read
            raise IndexError(f"luma holds {len(luma)} of {n} pixels")
        bits = luma[:n].translate(_BINARIZE)
        rows = [bits[y * width : (y + 1) * width] for y in range(height)]
        bands = [
            m.span() for m in _RUNS.finditer(bytes(b"\x01" in row for row in rows))
        ]

        # dispatch: pages rendered in this engine's own font have line
        # bands at most GLYPH_H (7) rows tall; anything taller is an
        # out-of-model scan and goes to the scaled-recognition path
        # (extraction/scan_ocr.py: Otsu, underline strip, size-class
        # template matching). No ink at the fixed threshold also defers
        # to that path, whose Otsu normalization may still find text.
        if not bands or any(y1 - y0 > 9 for y0, y1 in bands):
            from ocr_service_spark.extraction.scan_ocr import recognize_scan

            return recognize_scan(width, height, luma)

        matched: dict[tuple[int, bytes], tuple[str, float]] = {}
        out_lines: list[str] = []
        confs: list[float] = []
        for y0, y1 in bands:
            band = rows[y0:y1]
            cols = 0
            for row in band:  # 0/1 bytes: OR never carries across columns
                cols |= int.from_bytes(row, "big")
            chars: list[str] = []
            prev_end = None
            # glyph segments: runs of non-empty columns
            for seg in _RUNS.finditer(cols.to_bytes(width, "big")):
                x0, x1 = seg.span()
                # inter-glyph gaps are at most ADVANCE-1 empty columns
                # (widest trailing+leading template whitespace); a space
                # adds a full ADVANCE per blank cell
                if prev_end is not None and x0 - prev_end >= ADVANCE:
                    chars.append(" " * ((x0 - prev_end - 1) // ADVANCE))
                prev_end = x1
                w = x1 - x0
                bitmap = b"".join(row[x0:x1] for row in band)
                hit = matched.get((w, bitmap))
                if hit is None:
                    cells = [divmod(i, w) for i, v in enumerate(bitmap) if v]
                    hit = matched[w, bitmap] = _match_glyph(cells)
                chars.append(hit[0])
                confs.append(hit[1])
            out_lines.append("".join(chars))

        text = "\n".join(out_lines)
        mean_conf = sum(confs) / max(len(confs), 1)
        return text, round(mean_conf, 4)
