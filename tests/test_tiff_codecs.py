"""Compressed-TIFF decode (Compression 5 LZW with early change +
predictor, 32773 PackBits) and the extra sample layouts (gray+alpha,
RGBA), including the reference's multipage spp=2 fixture that was
previously dimension-probed only."""

from __future__ import annotations

import hashlib
import io
import random
import zipfile

import pytest

from ocr_service_spark.extraction.image_codecs import (
    _packbits,
    _tiff_luma,
    _tiff_lzw,
    decode_image_luma,
    encode_tiff_gray,
)

VARIANTS = [
    dict(),
    dict(compression=5),
    dict(compression=5, predictor=2),
    dict(compression=32773),
    dict(alpha=True),
    dict(compression=5, alpha=True, predictor=2),
    dict(compression=32773, alpha=True),
]


@pytest.mark.parametrize("kw", VARIANTS, ids=lambda kw: "-".join(f"{k}{v}" for k, v in kw.items()) or "plain")
def test_tiff_variant_roundtrips(kw):
    rng = random.Random(9)
    # 101x53 crosses the 511- and 1023-entry LZW code-width boundaries
    for w, h in [(19, 7), (101, 53)]:
        raw = bytes(rng.randrange(256) for _ in range(w * h))
        tiff = encode_tiff_gray(w, h, raw, **kw)
        assert _tiff_luma(tiff) == (w, h, raw)
        assert decode_image_luma(tiff) == (w, h, raw)  # ladder reaches it


def test_packbits_semantics():
    # literal, run, and the -128 noop
    assert _packbits(bytes([2, 10, 20, 30]), 3) == bytes([10, 20, 30])
    assert _packbits(bytes([257 - 4, 7]), 4) == bytes([7] * 4)
    assert _packbits(bytes([128, 0, 5]), 1) == bytes([5])
    assert _packbits(bytes([2, 1]), 3) is None  # truncated literal -> short


def test_tiff_lzw_rejects_garbage():
    assert _tiff_lzw(b"", 4) is None
    assert _tiff_lzw(bytes([0xFF] * 8), 64) is None  # out-of-table codes


def test_reference_multipage_spp2_fixture_decodes(fixture_bytes):
    """The invalid/tiff_multipage_spp2.tiff fixture (gray+alpha,
    2550x3300, 6 pages): first page now pixel-decodes; hash pinned."""
    zipped = io.BytesIO(fixture_bytes("invalid/tiff_multipage_spp2.tiff.zip"))
    data = zipfile.ZipFile(zipped).read("tiff_multipage_spp2.tiff")
    out = _tiff_luma(data)
    assert out is not None
    w, h, luma = out
    assert (w, h) == (2550, 3300)
    assert hashlib.sha256(luma).hexdigest()[:16] == "351f786ddc6ce41c"


def test_fuzzed_tiffs_never_crash():
    rng = random.Random(13)
    raw = bytes(rng.randrange(256) for _ in range(24 * 10))
    seeds = [encode_tiff_gray(24, 10, raw, **kw) for kw in VARIANTS]
    for seed in seeds:
        for _ in range(40):
            mutated = bytearray(seed)
            for _ in range(rng.randrange(1, 5)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            trunc = bytes(mutated[: rng.randrange(8, len(mutated))])
            for payload in (bytes(mutated), trunc):
                out = _tiff_luma(payload)  # None or a plane, never a raise
                assert out is None or len(out[2]) == out[0] * out[1]
