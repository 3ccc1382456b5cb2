"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a
typed metadata struct, processed by per-row Python stages
(``plans/rows.py::map_rows``) — the same Arrow-batched Python boundary
as the text-extraction operator, so the same partitioning/skew
machinery applies.

Decode reality by format (`_decode`):

- container metadata (type, dimensions, page/frame counts): REAL
  public-spec parses for PNG/JPEG/GIF/BMP/TIFF/MP4/WAV;
- pixel planes: REAL for PNG, baseline JPEG, uncompressed BMP, GIF
  (LZW) and TIFF incl. LZW/PackBits via extraction/image_codecs.py (all
  from-scratch, no native libraries) — feature hash is a content hash
  of the decoded luma, features are pixel statistics; WAV feature
  hash is a content hash of the PCM data chunk;
- animated GIF frames: REAL composited pixels (gif_frames), and WAV
  spectral features are integer-exact Goertzel bins over decoded PCM;
- progressive JPEG: REAL multi-scan coefficient decode
  (jpeg_codec._decode_progressive);
- MP4 frames: deterministic payload-hash stand-in, clearly marked —
  swap in ffmpeg on a cluster image and nothing else changes: schema,
  batching, partitioning and tests are the production shapes.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_service_spark.plans.rows import map_rows

MEDIA_FEATURES_SCHEMA = (
    "url string, media_type string, width int, height int, n_frames int, "
    "feature_hash string, feature_vec array<float>"
)


def _png_dimensions(payload: bytes) -> tuple[int, int] | None:
    # real header parse: IHDR is the first chunk after the 8-byte magic
    if payload[:8] != b"\x89PNG\r\n\x1a\n" or len(payload) < 33 or payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack_from(">II", payload, 16)
    return width, height


def _jpeg_dimensions(payload: bytes) -> tuple[int, int] | None:
    """Real JPEG header walk (ISO/IEC 10918 marker structure): skip
    segments by their length field until a frame header (SOF0-SOF15,
    excluding DHT/DAC/RST markers) carries height/width."""
    if payload[:2] != b"\xff\xd8":
        return None
    pos, n = 2, len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:  # desynchronized
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no length
            pos += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: no SOF seen
            return None
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        is_sof = 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC)
        if is_sof:
            if pos + 9 > n:
                return None
            height, width = struct.unpack_from(">HH", payload, pos + 5)
            return width, height
        pos += 2 + seg_len
    return None


def _gif_dimensions(payload: bytes) -> tuple[int, int] | None:
    # logical screen descriptor, little-endian u16 pair right after magic
    if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 10:
        return None
    width, height = struct.unpack_from("<HH", payload, 6)
    return width, height


def _bmp_dimensions(payload: bytes) -> tuple[int, int] | None:
    # BITMAPINFOHEADER: signed i32 pair at offset 18 (height may be
    # negative = top-down rows)
    if payload[:2] != b"BM" or len(payload) < 26:
        return None
    width, height = struct.unpack_from("<ii", payload, 18)
    return abs(width), abs(height)


def _tiff_info(payload: bytes) -> tuple[int, int, int] | None:
    """Real TIFF 6.0 IFD walk (both byte orders): dimensions from the
    first IFD's ImageWidth/ImageLength tags, page count = number of
    chained IFDs (multipage TIFF is the scan format the reference's
    OCR path splits into per-page work)."""
    if payload[:4] == b"II*\x00":
        e = "<"
    elif payload[:4] == b"MM\x00*":
        e = ">"
    else:
        return None
    if len(payload) < 8:
        return None
    width = height = None
    pages = 0
    off = struct.unpack_from(e + "I", payload, 4)[0]
    while off and off + 2 <= len(payload) and pages < 256:
        n = struct.unpack_from(e + "H", payload, off)[0]
        if off + 2 + n * 12 + 4 > len(payload):
            break
        if pages == 0:
            for i in range(n):
                entry = off + 2 + i * 12
                tag, typ, _cnt = struct.unpack_from(e + "HHI", payload, entry)
                if tag in (256, 257):
                    # SHORT (3) packs in the value field's first 2 bytes
                    val = (
                        struct.unpack_from(e + "H", payload, entry + 8)[0]
                        if typ == 3
                        else struct.unpack_from(e + "I", payload, entry + 8)[0]
                    )
                    if tag == 256:
                        width = val
                    else:
                        height = val
        pages += 1
        off = struct.unpack_from(e + "I", payload, off + 2 + n * 12)[0]
    if not pages or width is None or height is None:
        return None
    return width, height, pages


def _mp4_probe(payload: bytes) -> tuple[int, int, int] | None:
    """Real ISO BMFF (MP4) box walk: ftyp gates detection; dimensions
    come from the first video track's tkhd (16.16 fixed point), the
    notional frame count from mvhd duration/timescale at 1 fps (the
    sampler's fps knob rescales it). This is the cheap dims probe;
    pixel decode lives in mp4_codec/h264_codec (MJPEG + avc1 I_PCM,
    CAVLC/CABAC residuals the marked boundary)."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        return None

    def boxes(start: int, end: int):
        pos = start
        while pos + 8 <= end:
            size = struct.unpack_from(">I", payload, pos)[0]
            btype = payload[pos + 4 : pos + 8]
            header = 8
            if size == 1 and pos + 16 <= end:
                size = struct.unpack_from(">Q", payload, pos + 8)[0]
                header = 16
            elif size == 0:
                size = end - pos
            if size < header or pos + size > end:
                return
            yield btype, pos + header, pos + size
            pos += size

    duration_s = 0.0
    width = height = 0
    for btype, body, bend in boxes(0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, cbody, cend in boxes(body, bend):
            if ctype == b"mvhd" and cbody + 4 <= bend:
                version = payload[cbody]
                if version == 1 and cbody + 32 <= cend:
                    timescale = struct.unpack_from(">I", payload, cbody + 20)[0]
                    duration = struct.unpack_from(">Q", payload, cbody + 24)[0]
                elif cbody + 20 <= cend:
                    timescale = struct.unpack_from(">I", payload, cbody + 12)[0]
                    duration = struct.unpack_from(">I", payload, cbody + 16)[0]
                else:
                    continue
                if timescale:
                    duration_s = duration / timescale
            elif ctype == b"trak" and not width:
                for ttype, tbody, tend in boxes(cbody, cend):
                    if ttype != b"tkhd" or tbody >= tend:
                        continue
                    off = tbody + (88 if payload[tbody] == 1 else 76)
                    if off + 8 <= tend:
                        w_fp, h_fp = struct.unpack_from(">II", payload, off)
                        width, height = w_fp >> 16, h_fp >> 16
        return width, height, max(1, int(duration_s))
    return None


def _wav_info(payload: bytes) -> dict | None:
    """Real RIFF/WAVE chunk walk: fmt (channels, sample rate, bit
    depth) + data size -> sample count and duration."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, n = 12, len(payload)
    fmt: dict | None = None
    data_size = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        csize = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt " and pos + 24 <= n:
            _fmt_tag, channels, sample_rate = struct.unpack_from("<HHI", payload, pos + 8)
            bits = struct.unpack_from("<H", payload, pos + 22)[0]
            fmt = {"channels": channels, "sample_rate": sample_rate, "bits": bits}
        elif cid == b"data":
            data_size = csize
            data_off = pos + 8
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if not fmt or data_size is None or not fmt["channels"] or not fmt["bits"]:
        return None
    frame_bytes = fmt["channels"] * fmt["bits"] // 8
    n_samples = data_size // frame_bytes if frame_bytes else 0
    duration = n_samples / fmt["sample_rate"] if fmt["sample_rate"] else 0.0
    return {
        "media_type": "audio/wav",
        **fmt,
        "n_samples": n_samples,
        "duration_s": round(duration, 6),
        # private: PCM byte span for content-hashing; callers pop it
        "_data_span": (data_off, min(data_size, n - data_off)),
    }


def _wh1(parser):
    def wrapped(payload: bytes) -> tuple[int, int, int] | None:
        dims = parser(payload)
        return (dims[0], dims[1], 1) if dims else None

    return wrapped


_DIMENSION_PARSERS = (
    ("image/png", _wh1(_png_dimensions)),
    ("image/jpeg", _wh1(_jpeg_dimensions)),
    ("image/gif", _wh1(_gif_dimensions)),
    ("image/bmp", _wh1(_bmp_dimensions)),
    ("image/tiff", _tiff_info),
    ("video/mp4", _mp4_probe),
)


from ocr_service_spark.extraction.image_codecs import (  # noqa: E402
    _bmp_luma,
    _gif_luma,
    _gif_lzw,
    _tiff_luma,
    decode_image_luma,
)


def _luma_features(width: int, height: int, luma: bytes) -> tuple[str, list[float]]:
    """Real pixel statistics: content hash of the luma plane (layout-
    and-container independent) + an 8-dim feature vector [mean, std,
    min, max, dark fraction, light fraction, mean |row gradient|,
    mean |col gradient|], all normalized to 0..1."""
    n = len(luma)
    mean = sum(luma) / n
    var = sum((v - mean) ** 2 for v in luma) / n
    dark = sum(1 for v in luma if v < 64) / n
    light = sum(1 for v in luma if v >= 192) / n
    rg = cg = 0
    if width > 1:
        rg = sum(
            abs(luma[i] - luma[i - 1])
            for y in range(height)
            for i in range(y * width + 1, (y + 1) * width)
        ) / (height * (width - 1))
    if height > 1:
        cg = sum(
            abs(luma[i] - luma[i - width]) for i in range(width, n)
        ) / (width * (height - 1))
    vec = [
        mean / 255.0, (var ** 0.5) / 255.0,
        min(luma) / 255.0, max(luma) / 255.0,
        dark, light, rg / 255.0, cg / 255.0,
    ]
    return hashlib.sha256(luma).hexdigest()[:16], [round(v, 6) for v in vec]


def _decode(payload: bytes) -> dict:
    """Codec stage: REAL where a from-scratch decoder exists, an
    explicit deterministic stand-in elsewhere.

    - media type / dimensions / frame count: real container parses for
      all six formats (no codec needed);
    - pixel plane: REAL for PNG / JPEG (baseline + progressive) / BMP /
      GIF / TIFF (incl. LZW/PackBits) and MJPEG MP4 (first decoded
      frame; n_frames = real sample count) — feature hash = content
      hash of the decoded luma, features = pixel statistics;
    - avc1 MP4: real pixels for I_PCM streams (h264_codec); frames
      behind the CAVLC/CABAC residual boundary fall back to the
      payload-hash stand-in, clearly marked — swap in an ffmpeg-class
      decoder on a cluster image and the surrounding operator
      (schema, batching, partitioning) is unchanged.
    """
    digest = hashlib.sha256(payload).digest()
    media_type, width, height, n_frames = "application/octet-stream", 0, 0, 0
    for mtype, parser in _DIMENSION_PARSERS:
        info = parser(payload)
        if info:
            media_type, (width, height, n_frames) = mtype, info
            break
    decoded = decode_image_luma(payload) if media_type.startswith("image/") else None
    if media_type == "video/mp4":
        from ocr_service_spark.extraction.mp4_codec import mp4_frames, mp4_video_track

        first = mp4_frames(payload, max_frames=1)
        if first:
            fw, fh, luma, _ts = first[0]
            decoded = (fw, fh, luma)
            n_frames = len(mp4_video_track(payload)["samples"])
    if decoded is not None:
        w, h, luma = decoded
        feature_hash, feature_vec = _luma_features(w, h, luma)
        return {
            "media_type": media_type,
            "width": w,
            "height": h,
            "n_frames": n_frames or 1,
            "feature_hash": feature_hash,
            "feature_vec": feature_vec,
        }
    if not n_frames:
        n_frames = 1 + digest[0] % 4
    feature_vec = [b / 255.0 for b in digest[:8]]
    return {
        "media_type": media_type,
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "feature_hash": digest.hex()[:16],
        "feature_vec": feature_vec,
    }


# backwards-compatible name (tests/docs reference the stub explicitly)
_fake_decode = _decode


FRAME_SCHEMA = (
    "url string, frame_no int, frame_ts double, width int, height int, "
    "frame_hash string, pixel_sum bigint"
)


def sample_frames(
    df: DataFrame, payload_col: str = "html", fps: float = 0.5, max_frames: int = 8
) -> DataFrame:
    """Frame sampling: one output row per sampled frame with typed
    metadata, explode-style fan-out (mirroring the PDF page explode),
    Arrow-batched.

    Real pixels wherever a from-scratch decoder exists: animated GIF
    frames come from the compositing sampler (image_codecs.gif_frames
    — GCE disposal/transparency honored), MJPEG MP4 frames from the
    sample-table demuxer + baseline JPEG codec (mp4_codec.mp4_frames —
    real stsd/stts/stsc/stsz/stco resolution, real per-sample decode,
    REAL timestamps from the media timescale), and single-frame images
    (PNG/JPEG/BMP/TIFF) from decode_image_luma; for these, frame_hash
    is the sha256 of the DECODED canvas luma and pixel_sum its integer
    pixel total (closed-form checkable for synthetic corpora, q60/q61).
    avc1 MP4s decode for real when their frames are I_PCM-coded
    (h264_codec.decode_ipcm_idr); CAVLC/CABAC residual-coded frames
    remain the one marked boundary: frame count/dims/keyframes are
    real (SPS + stss), frame_hash hashes container bytes + frame_no,
    and pixel_sum is NULL until an ffmpeg-class decoder joins the
    ladder on a real cluster image."""
    from ocr_service_spark.extraction.image_codecs import gif_frames
    from ocr_service_spark.extraction.mp4_codec import mp4_frames

    def luma_hash(luma: bytes) -> str:
        return hashlib.sha256(luma).hexdigest()[:16]

    def frames(url, payload):
        if payload is None:
            return
        payload = bytes(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            for frame_no, (fw, fh, luma) in enumerate(gif_frames(payload, max_frames)):
                yield url, frame_no, round(frame_no / fps, 3), fw, fh, luma_hash(luma), sum(luma)
            return
        if payload[4:8] == b"ftyp":
            decoded_mp4 = mp4_frames(payload, max_frames)
            if decoded_mp4:
                # real media-timescale timestamps
                for frame_no, (fw, fh, luma, ts) in enumerate(decoded_mp4):
                    yield url, frame_no, ts, fw, fh, luma_hash(luma), sum(luma)
                return
        decoded = decode_image_luma(payload)
        if decoded is not None:
            fw, fh, luma = decoded
            yield url, 0, round(0 / fps, 3), fw, fh, luma_hash(luma), sum(luma)
            return
        meta = _fake_decode(payload)
        for frame_no in range(min(meta["n_frames"], max_frames)):
            digest = luma_hash(payload[:64] + frame_no.to_bytes(4, "big"))
            yield (
                url, frame_no, round(frame_no / fps, 3), meta["width"], meta["height"], digest,
                None,
            )

    narrowed = df.select("url", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, frames, FRAME_SCHEMA)


def resize_images(
    df: DataFrame, payload_col: str = "html", target: tuple[int, int] = (224, 224)
) -> DataFrame:
    """REAL resize for every decodable format (the standard vision
    preprocessing step): decode to luma via the from-scratch codec
    ladder, box-filter resample to the target, re-encode as grayscale
    PNG. Undecodable payloads pass through unchanged with NULL dims —
    downstream filters on ``width IS NOT NULL``."""
    from ocr_service_spark.extraction.image_codecs import box_resize_luma, decode_image_luma
    from ocr_service_spark.extraction.png_codec import encode_png_gray

    def resize(url, payload):
        if payload is None:
            return []
        payload = bytes(payload)
        decoded = decode_image_luma(payload)
        if decoded is None:
            return [(url, payload, None, None)]
        w, h, luma = decoded
        out = box_resize_luma(w, h, luma, target[0], target[1])
        return [(url, encode_png_gray(target[0], target[1], out), target[0], target[1])]

    narrowed = df.select("url", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, resize, "url string, resized binary, width int, height int")


# -- image perceptual-hash dedup (dHash + banded Hamming join) ----------------
# The image twin of text near-dup dedup: a 64-bit difference hash
# (gradient sign over an 8x9 block-mean grid — the classic dHash, same
# family as pHash/aHash) makes near-identical images collide within a
# small Hamming radius; candidates come from 16-bit band equi joins
# (pigeonhole: hamming <= PHASH_BANDS-1 guarantees a shared band), and
# only candidates pay the exact popcount verify. Everything after the
# decode is integer arithmetic, so a closed-form corpus makes the
# whole pipeline (including the codec round trip) SQL-replayable.
PHASH_GRID_ROWS = 8
PHASH_GRID_COLS = 9  # 9 column means -> 8 horizontal comparisons per row
PHASH_BANDS = 4  # 16-bit bands over the 64-bit hash
PHASH_MAX_HAM = 8


def dhash_words(width: int, height: int, luma: bytes) -> tuple[int, int]:
    """64-bit dHash as two 32-bit words (bigint-safe, the q46 packing).

    Grid cell (r, c) holds the floor-mean of pixels with
    (y*ROWS) div height == r and (x*COLS) div width == c — the cell
    mapping is this exact integer formula (not per-cell ranges) so the
    SQL oracle assigns pixels identically. Bit k = r*8+c is set iff
    mean[r][c] > mean[r][c+1]; word 0 carries bits 0..31 MSB-first."""
    rows, cols = PHASH_GRID_ROWS, PHASH_GRID_COLS
    sums = [[0] * cols for _ in range(rows)]
    cnts = [[0] * cols for _ in range(rows)]
    for p, v in enumerate(luma):
        y, x = divmod(p, width)
        r = (y * rows) // height
        c = (x * cols) // width
        sums[r][c] += v
        cnts[r][c] += 1
    mean = [[sums[r][c] // cnts[r][c] for c in range(cols)] for r in range(rows)]
    w0 = w1 = 0
    for r in range(rows):
        for c in range(cols - 1):
            k = r * (cols - 1) + c
            bit = 1 if mean[r][c] > mean[r][c + 1] else 0
            if k < 32:
                w0 |= bit << (31 - k)
            else:
                w1 |= bit << (31 - (k - 32))
    return w0, w1


def image_phash(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """(img_id, w0, w1): dHash over the REAL decoded luma plane for
    every decodable image; undecodable payloads drop (filter on decode
    success, the resize_images convention)."""
    from ocr_service_spark.extraction.image_codecs import decode_image_luma

    def phash(img_id, payload):
        decoded = None if payload is None else decode_image_luma(bytes(payload))
        if decoded is None:
            return []
        w, h, luma = decoded
        if w < PHASH_GRID_COLS or h < PHASH_GRID_ROWS:
            return []
        return [(int(img_id), *dhash_words(w, h, luma))]

    narrowed = df.select("img_id", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, phash, "img_id bigint, w0 bigint, w1 bigint")


def phash_neardup_pairs(hashed: DataFrame) -> DataFrame:
    """(id_a, id_b, hamming <= PHASH_MAX_HAM): banded-LSH candidates
    (posting-list pair explode per 16-bit band bucket — the q19 shape,
    never a self-join), then the exact two-word popcount verify. At
    10^12 images the posting lists are the stored index; a bucket with
    B images yields B^2/2 candidate rows, bounded the same way q14
    caps document frequency."""
    bands = F.array(
        F.struct(F.lit(0).alias("band"), F.shiftright("w0", 16).alias("val")),
        F.struct(F.lit(1).alias("band"), (F.col("w0").bitwiseAND(0xFFFF)).alias("val")),
        F.struct(F.lit(2).alias("band"), F.shiftright("w1", 16).alias("val")),
        F.struct(F.lit(3).alias("band"), (F.col("w1").bitwiseAND(0xFFFF)).alias("val")),
    )
    stacked = hashed.select("img_id", F.explode(bands).alias("b")).select(
        "img_id", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    posting = (
        stacked.groupBy("band", "val")
        .agg(F.array_sort(F.collect_list("img_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    cand = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    a = hashed.select(
        F.col("img_id").alias("id_a"), F.col("w0").alias("a0"), F.col("w1").alias("a1")
    )
    b = hashed.select(
        F.col("img_id").alias("id_b"), F.col("w0").alias("b0"), F.col("w1").alias("b1")
    )
    ham = (
        F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
        + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))
    ).cast("bigint")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAX_HAM)
        .select("id_a", "id_b", "hamming")
    )


AUDIO_FEATURES_SCHEMA = (
    "url string, media_type string, sample_rate int, channels int, bits int, "
    "n_samples bigint, duration_s double, feature_hash string, "
    "energy bigint, zero_crossings bigint, band_dc bigint, "
    "band_quarter bigint, band_nyquist bigint"
)


def _pcm_mono(payload: bytes, info: dict, off: int, size: int) -> list[int]:
    """Interleaved PCM -> per-frame channel-SUM mono series (summing
    instead of averaging keeps every value an exact integer in any
    engine). 16-bit signed LE and 8-bit unsigned (centered at -128)."""
    bits, channels = info["bits"], info["channels"]
    data = payload[off : off + size]
    if bits == 16:
        n_vals = len(data) // 2
        vals = list(struct.unpack_from(f"<{n_vals}h", data))
    elif bits == 8:
        vals = [b - 128 for b in data]
    else:
        return []
    n_frames = len(vals) // channels
    return [
        sum(vals[f * channels : (f + 1) * channels]) for f in range(n_frames)
    ]


def _spectral_features(mono: list[int]) -> dict:
    """Integer-exact spectral features of a PCM frame series: total
    energy, zero crossings, and the squared magnitudes of the three
    Goertzel bins whose recurrence coefficients are exact integers —
    w = 0 (DC), w = pi/2 (quarter band, cos/sin in {1,0,-1}) and
    w = pi (Nyquist). Fixed-point-free, so a SQL oracle reproduces
    them bit-exactly (same trick as the k-means query, q55)."""
    energy = sum(v * v for v in mono)
    zc = sum(1 for i in range(1, len(mono)) if (mono[i - 1] < 0) != (mono[i] < 0))
    dc = sum(mono)
    nyq = sum(v if i % 2 == 0 else -v for i, v in enumerate(mono))
    q_re = sum(v * (1, 0, -1, 0)[i % 4] for i, v in enumerate(mono))
    q_im = sum(v * (0, -1, 0, 1)[i % 4] for i, v in enumerate(mono))
    return {
        "energy": energy,
        "zero_crossings": zc,
        "band_dc": dc * dc,
        "band_quarter": q_re * q_re + q_im * q_im,
        "band_nyquist": nyq * nyq,
    }


def extract_audio_features(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """(url, binary) -> typed audio metadata + spectral features. The
    container fields are a REAL RIFF/WAVE parse and the spectral
    columns are computed from the decoded PCM (integer-exact Goertzel
    bins, _spectral_features); non-audio payloads pass through with
    nulls."""

    cols = [
        "url", "media_type", "sample_rate", "channels", "bits",
        "n_samples", "duration_s", "feature_hash",
        "energy", "zero_crossings", "band_dc", "band_quarter", "band_nyquist",
    ]

    def audio(url, payload):
        if payload is None:
            return []
        payload = bytes(payload)
        info = _wav_info(payload)
        if info:
            # content hash of the PCM data (container-independent)
            off, size = info.pop("_data_span")
            digest = hashlib.sha256(payload[off : off + size]).hexdigest()[:16]
            spectral = _spectral_features(_pcm_mono(payload, info, off, size))
            row = {"url": url, "feature_hash": digest, **info, **spectral}
        else:
            row = {
                "url": url,
                "media_type": "application/octet-stream",
                "feature_hash": hashlib.sha256(payload).hexdigest()[:16],
            }
        return [tuple(row.get(c) for c in cols)]

    narrowed = df.select("url", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, audio, AUDIO_FEATURES_SCHEMA)


def extract_media_features(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """(url, binary) -> typed media features, one row per payload."""
    cols = ["media_type", "width", "height", "n_frames", "feature_hash", "feature_vec"]

    def features(url, payload):
        if payload is None:
            return []
        meta = _fake_decode(bytes(payload))
        return [(url, *(meta[c] for c in cols))]

    narrowed = df.select("url", F.col(payload_col).alias("payload"))
    return map_rows(narrowed, features, MEDIA_FEATURES_SCHEMA)
