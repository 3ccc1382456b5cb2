"""Minimal PDF text-layer extraction (operator C5 in SURVEY.md §2.4).

The reference extracts a PDF's text layer per page with pdfium
(``DocumentConverter._pdf_to_text``, converter.py:183-211): page texts
are concatenated in page order with NO separator, and ``metadata.pages``
carries the page count. pypdfium2 is a native binary unavailable here,
so this is a from-scratch, stdlib-only text-layer parser built from the
public PDF 1.7 spec (ISO 32000-1), scoped to text extraction:

- object scan: every ``N G obj`` parsed with a recursive-descent
  object parser (dicts/arrays/names/numbers/strings/hex/refs/streams);
  object streams (/Type/ObjStm) are expanded, so classic xref tables
  and xref streams never need to be read;
- filters: FlateDecode (+PNG predictors), ASCIIHex, ASCII85, RunLength;
- page tree walk (/Root -> /Pages -> /Kids) with attribute inheritance
  (Resources), falling back to /Type/Page objects in object order;
- content interpreter: BT/ET, Tf, Td/TD/Tm/T*/TL, Tj/'/"/TJ with a
  text-matrix line tracker — pdfium-style generated "\\r\\n" between
  baselines, width-aware generated spaces inside a line (gap greater
  than ~0.3 * font size);
- string decode: ToUnicode CMap > /Differences glyph names (AGL subset)
  > WinAnsi/MacRoman/Standard base encodings; Type0/Identity-H fonts
  decode 2-byte codes through their ToUnicode CMap.

Glyph runs: a show operator handles its whole string at once, with no
Python call per glyph. A font memoizes code -> text and, per text state
(size, Tc, Tw, Tz), code -> pen advance. The run's text is one join,
appended to the page once, plus an empty string when the last glyph
decodes to "" so the next show's inserted-space rule still reads the
last glyph. The advances are folded into the pen with
``reduce(operator.add, ...)``: the same float additions in the same
order as a per-glyph ``pen_x += adv``, so every gap decision rounds
exactly as before (``sum``/``fsum`` would change the rounding).

Open once, extract many ranges: ``OpenedPdf`` is the one parse path
(object scan, decryption, page tree); ``pdf_page_texts`` and
``pdf_to_text`` open a document and interpret a page range of it. An
open document caches what pages share (object streams, ToUnicode
CMaps, one ``_Font`` per font object) but not page content, which is
decoded per page, so keeping it open costs no more memory as more
pages are interpreted.

Encrypted documents raise ``PdfEncryptedError`` (the reference's
pdfium would equally fail without a password); the pipeline maps this
to the reference's swallowed-exception empty result (processor.py:93-95).
"""

from __future__ import annotations

import re
import struct
import zlib
from functools import reduce
from operator import add

__all__ = [
    "pdf_to_text",
    "pdf_page_count",
    "pdf_page_texts",
    "OpenedPdf",
    "PdfError",
    "PdfEncryptedError",
]


class PdfError(Exception):
    pass


class PdfEncryptedError(PdfError):
    pass


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num

    def __repr__(self) -> str:  # pragma: no cover
        return f"Ref({self.num})"


class Name(str):
    """PDF name object (distinct from string literals)."""


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
# the bytes a literal string treats specially; everything between them
# is copied as one slice
_STRING_SPECIAL = re.compile(rb"[()\\]")


class _Lexer:
    """Byte-level tokenizer shared by the object parser and the content
    interpreter."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.n = len(data)

    def skip_ws(self) -> None:
        d, n = self.data, self.n
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                e = d.find(b"\n", self.pos)
                self.pos = self.n if e < 0 else e + 1
            else:
                return

    def peek(self) -> int:
        return self.data[self.pos] if self.pos < self.n else -1

    def read_token(self) -> bytes:
        """Regular token (keyword/number): bytes up to delimiter/ws."""
        start = self.pos
        d, n = self.data, self.n
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        return d[start : self.pos]

    def read_name(self) -> Name:
        assert self.data[self.pos] == 0x2F
        self.pos += 1
        start = self.pos
        d, n = self.data, self.n
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        raw = d[start : self.pos]
        if b"#" in raw:
            raw = re.sub(rb"#([0-9A-Fa-f]{2})", lambda m: bytes([int(m.group(1), 16)]), raw)
        return Name(raw.decode("latin-1"))

    def read_string(self) -> bytes:
        """Literal string ( ... ) with escapes; returns raw bytes."""
        assert self.data[self.pos] == 0x28
        self.pos += 1
        out = bytearray()
        depth = 1
        d, n = self.data, self.n
        special = _STRING_SPECIAL.search
        while self.pos < n:
            m = special(d, self.pos)
            if m is None:
                out += d[self.pos :]
                self.pos = n
                break
            out += d[self.pos : m.start()]
            self.pos = m.start()
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out += {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b", 0x66: b"\f"}[e]
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    val = 0
                    k = 0
                    while k < 3 and self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                        val = val * 8 + (d[self.pos] - 0x30)
                        self.pos += 1
                        k += 1
                    out.append(val & 0xFF)
                elif e == 0x0A:
                    self.pos += 1  # line continuation
                elif e == 0x0D:
                    self.pos += 1
                    if self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            else:  # 0x29
                depth -= 1
                self.pos += 1
                if depth == 0:
                    break
                out.append(c)
        return bytes(out)

    def read_hex_string(self) -> bytes:
        assert self.data[self.pos] == 0x3C
        self.pos += 1
        end = self.data.find(b">", self.pos)
        if end < 0:
            end = self.n
        hexchars = re.sub(rb"[^0-9A-Fa-f]", b"", self.data[self.pos : end])
        self.pos = end + 1
        if len(hexchars) % 2:
            hexchars += b"0"
        return bytes.fromhex(hexchars.decode("ascii"))

    def parse_object(self):
        """Parse one PDF object at the cursor; returns a python value."""
        self.skip_ws()
        c = self.peek()
        if c < 0:
            raise PdfError("eof")
        if c == 0x2F:
            return self.read_name()
        if c == 0x28:
            return self.read_string()
        if c == 0x3C:
            if self.data[self.pos : self.pos + 2] == b"<<":
                return self._parse_dict()
            return self.read_hex_string()
        if c == 0x5B:  # [
            self.pos += 1
            arr = []
            while True:
                self.skip_ws()
                if self.peek() == 0x5D:
                    self.pos += 1
                    return arr
                if self.peek() < 0:
                    return arr
                arr.append(self.parse_object())
        tok = self.read_token()
        if not tok:
            self.pos += 1  # stray delimiter; skip
            return None
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        # number — possibly an indirect reference "N G R"
        try:
            if b"." in tok or b"e" in tok or b"E" in tok:
                return float(tok)
            val = int(tok)
        except ValueError:
            return Name(tok.decode("latin-1"))  # operator-ish keyword
        save = self.pos
        self.skip_ws()
        tok2 = self.read_token()
        if tok2 and tok2.isdigit():
            self.skip_ws()
            tok3 = self.read_token()
            if tok3 == b"R":
                return Ref(val)
        self.pos = save
        return val

    def _parse_dict(self) -> dict:
        self.pos += 2  # <<
        out: dict = {}
        while True:
            self.skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            if self.peek() != 0x2F:
                if self.peek() < 0:
                    return out
                # tolerate junk
                self.parse_object()
                continue
            key = self.read_name()
            out[key] = self.parse_object()


def _apply_png_predictor(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data) + row_len:
        if pos >= len(data):
            break
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_len])
        pos += 1 + row_len
        if ft == 1:
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _ascii85(data: bytes) -> bytes:
    data = data.replace(b"\n", b"").replace(b"\r", b"").replace(b" ", b"")
    if data.startswith(b"<~"):
        data = data[2:]
    if data.endswith(b"~>"):
        data = data[:-2]
    import base64

    return base64.a85decode(data)


def _runlength(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        length = data[i]
        if length == 128:
            break
        if length < 128:
            out += data[i + 1 : i + 2 + length]
            i += 2 + length
        else:
            out += data[i + 1 : i + 2] * (257 - length)
            i += 2
    return bytes(out)


# Standard security handler padding (PDF 1.7 §7.6.3.3, public spec).
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
        0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes) -> bytes:
    """PDF 2.0 §7.6.4.3.4 algorithm 2.B — the R6 'hardened' iterated
    SHA-2 hash (64+ rounds of AES-CBC over repeated input, digest
    picked by e[:16] mod 3)."""
    import hashlib

    from ocr_service_spark.extraction.aes import cbc_encrypt

    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            break
    return k[:32]


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = byte ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


class _Document:
    def __init__(self, data: bytes, password: bytes = b"") -> None:
        self.data = data
        self.password = password
        self.objects: dict[int, object] = {}
        self.gens: dict[int, int] = {}
        self.streams: dict[int, tuple[dict, int]] = {}  # num -> (dict, raw data start)
        self._decoded: dict[int, bytes] = {}
        self._file_key: bytes | None = None
        self._cfm = "V2"  # stream crypt-filter method (RC4 default)
        self._scan_objects()
        self._check_encryption()
        self._expand_object_streams()

    # -- object store -------------------------------------------------
    def _scan_objects(self) -> None:
        # guard_end tracks the end of the last discovered stream body:
        # 'N G obj' byte patterns INSIDE compressed stream data are
        # phantoms — parsing one can overwrite the real object of that
        # number (last-write-wins), silently corrupting extraction.
        guard_end = 0
        for m in re.finditer(rb"(?<![0-9])(\d{1,9})\s+(\d+)\s+obj\b", self.data):
            if m.start() < guard_end:
                continue
            num = int(m.group(1))
            lex = _Lexer(self.data, m.end())
            try:
                obj = lex.parse_object()
            except Exception:
                continue
            lex.skip_ws()
            self.gens[num] = int(m.group(2))
            if isinstance(obj, dict) and self.data[lex.pos : lex.pos + 6] == b"stream":
                p = lex.pos + 6
                if self.data[p : p + 2] == b"\r\n":
                    p += 2
                elif p < len(self.data) and self.data[p] in b"\r\n":
                    p += 1
                self.streams[num] = (obj, p)
                end = self.data.find(b"endstream", p)
                if end >= 0:  # damaged tails keep the permissive raw scan
                    guard_end = max(guard_end, end)
            self.objects[num] = obj

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref) and depth < 32:
            obj = self.objects.get(obj.num)
            depth += 1
        return obj

    def stream_bytes(self, num: int, cache: bool = True) -> bytes:
        """The decoded data of stream object ``num``. ``cache=False`` is
        for page content, which is interpreted once: an open document
        then holds only what pages share (ToUnicode CMaps, object
        streams), not every page decoded so far."""
        if num in self._decoded:
            return self._decoded[num]
        if num not in self.streams:
            return b""
        d, start = self.streams[num]
        length = self.resolve(d.get("Length"))
        raw: bytes | None = None
        if isinstance(length, int) and 0 <= length <= len(self.data) - start:
            raw = self.data[start : start + length]
            probe = self.data[start + length : start + length + 20]
            if b"endstream" not in probe and not probe.lstrip().startswith(b"endstream"):
                raw = None
        if raw is None:
            end = self.data.find(b"endstream", start)
            raw = self.data[start : end if end >= 0 else len(self.data)].rstrip(b"\r\n")
        raw = self._decrypt(num, raw)
        out = self._decode_filters(d, raw)
        if cache:
            self._decoded[num] = out
        return out

    def _decode_filters(self, d: dict, raw: bytes) -> bytes:
        filters = self.resolve(d.get("Filter"))
        if filters is None:
            return raw
        if not isinstance(filters, list):
            filters = [filters]
        parms = self.resolve(d.get("DecodeParms")) or self.resolve(d.get("DP"))
        if not isinstance(parms, list):
            parms = [parms] * len(filters)
        data = raw
        for f, p in zip(filters, parms):
            f = self.resolve(f)
            p = self.resolve(p) or {}
            if f == "FlateDecode" or f == "Fl":
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    data = zlib.decompressobj().decompress(data)
                pred = self.resolve(p.get("Predictor", 1)) if isinstance(p, dict) else 1
                if isinstance(pred, int) and pred >= 10:
                    data = _apply_png_predictor(
                        data,
                        int(self.resolve(p.get("Colors", 1)) or 1),
                        int(self.resolve(p.get("BitsPerComponent", 8)) or 8),
                        int(self.resolve(p.get("Columns", 1)) or 1),
                    )
            elif f == "ASCIIHexDecode" or f == "AHx":
                data = bytes.fromhex(
                    re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0]).decode("ascii")
                )
            elif f == "ASCII85Decode" or f == "A85":
                data = _ascii85(data)
            elif f == "RunLengthDecode" or f == "RL":
                data = _runlength(data)
            elif f in ("DCTDecode", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode"):
                return data  # image data; never text
            else:
                raise PdfError(f"unsupported filter {f}")
        return data

    # -- encryption / object streams ----------------------------------
    def _trailer_dicts(self):
        # trailer dicts follow the 'trailer' keyword; xref-stream docs
        # carry /Encrypt on the /Type/XRef stream dict instead.
        out = []
        for m in re.finditer(rb"trailer", self.data):
            lex = _Lexer(self.data, m.end())
            try:
                t = lex.parse_object()
            except Exception:
                continue
            if isinstance(t, dict):
                out.append(t)
        for _num, (d, _s) in self.streams.items():
            if d.get("Type") == "XRef":
                out.append(d)
        return out

    def _check_encryption(self) -> None:
        """Standard-security-handler support (PDF 1.7 §7.6, public spec):
        derive the file key for the empty user password — what pdfium
        does when no password is supplied — and RC4-decrypt streams.
        Docs demanding a real password raise PdfEncryptedError."""
        enc_ref = None
        file_id = b""
        for t in self._trailer_dicts():
            if "Encrypt" in t and enc_ref is None:
                enc_ref = t["Encrypt"]
                ids = self.resolve(t.get("ID"))
                if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
                    file_id = ids[0]
        if enc_ref is None:
            return
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict) or enc.get("Filter") != "Standard":
            raise PdfEncryptedError("unsupported security handler")
        version = int(self.resolve(enc.get("V")) or 0)
        revision = int(self.resolve(enc.get("R")) or 2)
        if version not in (1, 2, 4, 5):
            raise PdfEncryptedError("unsupported encryption version")
        o_entry = self.resolve(enc.get("O")) or b""
        u_entry = self.resolve(enc.get("U")) or b""
        perms = int(self.resolve(enc.get("P")) or 0)
        n_bytes = int(self.resolve(enc.get("Length")) or 40) // 8
        encrypt_metadata = self.resolve(enc.get("EncryptMetadata"))

        # V4/V5 carry crypt filters: resolve the stream filter's method
        # (PDF 1.7 §7.6.5). Identity/V2 keep RC4; AESV2/AESV3 use CBC.
        if version >= 4:
            cf = self.resolve(enc.get("CF")) or {}
            stmf = self.resolve(enc.get("StmF")) or "Identity"
            stdcf = self.resolve(cf.get(stmf)) if isinstance(cf, dict) else None
            cfm = (stdcf or {}).get("CFM", "Identity")
            cf_len = self.resolve((stdcf or {}).get("Length"))
            if isinstance(cf_len, int) and cf_len > 0:
                n_bytes = cf_len // 8 if cf_len > 40 else cf_len  # bits vs bytes
            self._cfm = cfm
        else:
            self._cfm = "V2"  # RC4

        if version == 5:
            self._check_encryption_v5(enc, revision)
            return

        # Algorithm 2 with the (padded) user password — empty by default,
        # matching an un-passworded pdfium open
        import hashlib
        import struct as _struct

        md = hashlib.md5()
        md.update((self.password + _PAD)[:32])
        md.update(bytes(o_entry[:32]))
        md.update(_struct.pack("<i", perms))
        md.update(file_id)
        if version >= 4 and encrypt_metadata is False:
            md.update(b"\xff\xff\xff\xff")
        digest = md.digest()
        if revision >= 3:
            for _ in range(50):
                digest = hashlib.md5(digest[:n_bytes]).digest()
        key = digest[:n_bytes]

        # Verify via the U entry (Algorithms 4/5)
        if revision == 2:
            expected = _rc4(key, _PAD)
            ok = expected == bytes(u_entry[:32])
        else:
            tmp = hashlib.md5(_PAD + file_id).digest()
            enc_u = _rc4(key, tmp)
            for i in range(1, 20):
                step_key = bytes(b ^ i for b in key)
                enc_u = _rc4(step_key, enc_u)
            ok = enc_u[:16] == bytes(u_entry[:16])
        if not ok:
            raise PdfEncryptedError("password required")
        self._file_key = key

    def _check_encryption_v5(self, enc: dict, revision: int) -> None:
        """AES-256 handler (PDF 2.0 / 1.7 ext. level 3, §7.6.4.3.3/4):
        R5 uses plain SHA-256; R6 the iterated 'hardened' hash 2.B.
        Only the empty user password is attempted (pdfium-no-password
        semantics); U = hash(32) + validation salt(8) + key salt(8),
        the file key is AES-256-CBC-wrapped in /UE."""
        import hashlib

        from ocr_service_spark.extraction.aes import cbc_decrypt

        u = bytes(self.resolve(enc.get("U")) or b"")
        ue = bytes(self.resolve(enc.get("UE")) or b"")
        if len(u) < 48 or len(ue) < 32:
            raise PdfEncryptedError("malformed V5 encryption dictionary")
        pwd = self.password  # UTF-8 bytes; empty by default
        vsalt, ksalt = u[32:40], u[40:48]
        if revision >= 6:
            check = _hash_2b(pwd, vsalt, b"")
            ikey = _hash_2b(pwd, ksalt, b"")
        else:
            check = hashlib.sha256(pwd + vsalt).digest()
            ikey = hashlib.sha256(pwd + ksalt).digest()
        if check != u[:32]:
            raise PdfEncryptedError("password required")
        self._file_key = cbc_decrypt(ikey, b"\x00" * 16, ue[:32], unpad=False)
        self._cfm = "AESV3"

    def _decrypt(self, num: int, raw: bytes) -> bytes:
        if self._file_key is None:
            return raw
        import hashlib
        import struct as _struct

        cfm = getattr(self, "_cfm", "V2")
        if cfm == "Identity":
            return raw
        if cfm == "AESV3":
            from ocr_service_spark.extraction.aes import cbc_decrypt

            return cbc_decrypt(self._file_key, raw[:16], raw[16:])
        gen = self.gens.get(num, 0)
        salt = b"sAlT" if cfm == "AESV2" else b""  # §7.6.2 algorithm 1
        obj_key = hashlib.md5(
            self._file_key
            + _struct.pack("<I", num)[:3]
            + _struct.pack("<I", gen)[:2]
            + salt
        ).digest()[: min(len(self._file_key) + 5, 16)]
        if cfm == "AESV2":
            from ocr_service_spark.extraction.aes import cbc_decrypt

            return cbc_decrypt(obj_key, raw[:16], raw[16:])
        return _rc4(obj_key, raw)

    def _expand_object_streams(self) -> None:
        for num, (d, _start) in list(self.streams.items()):
            if d.get("Type") != "ObjStm":
                continue
            try:
                payload = self.stream_bytes(num)
                n = int(self.resolve(d.get("N")) or 0)
                first = int(self.resolve(d.get("First")) or 0)
                head = _Lexer(payload[:first])
                pairs = []
                for _ in range(n):
                    head.skip_ws()
                    objnum = int(head.read_token())
                    head.skip_ws()
                    off = int(head.read_token())
                    pairs.append((objnum, off))
                for objnum, off in pairs:
                    if objnum in self.streams:
                        continue  # stream objects can't live in ObjStm
                    lex = _Lexer(payload, first + off)
                    try:
                        self.objects.setdefault(objnum, lex.parse_object())
                    except Exception:
                        continue
            except Exception:
                continue

    # -- page tree ------------------------------------------------------
    def pages(self) -> list[dict]:
        root_pages = None
        for obj in self.objects.values():
            if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                root_pages = self.resolve(obj.get("Pages"))
                break
        ordered: list[dict] = []

        def walk(node, inherited: dict, depth: int) -> None:
            node = self.resolve(node)
            if not isinstance(node, dict) or depth > 64:
                return
            inh = dict(inherited)
            for key in ("Resources", "MediaBox", "Rotate"):
                if key in node:
                    inh[key] = node[key]
            if node.get("Type") == "Page":
                merged = dict(node)
                for key, val in inh.items():
                    merged.setdefault(key, val)
                ordered.append(merged)
            else:
                kids = self.resolve(node.get("Kids")) or []
                for kid in kids:
                    walk(kid, inh, depth + 1)

        if isinstance(root_pages, dict):
            walk(root_pages, {}, 0)
        if not ordered:  # damaged page tree: fall back to object order
            for num in sorted(self.objects):
                obj = self.objects[num]
                if isinstance(obj, dict) and obj.get("Type") == "Page":
                    ordered.append(obj)
        return ordered


# ---------------------------------------------------------------------------
# Encodings & fonts
# ---------------------------------------------------------------------------

# AGL subset: glyph name -> character, enough for Latin text PDFs.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#", "dollar": "$",
    "percent": "%", "ampersand": "&", "quotesingle": "'", "quoteright": "’",
    "quoteleft": "‘", "parenleft": "(", "parenright": ")", "asterisk": "*",
    "plus": "+", "comma": ",", "hyphen": "-", "minus": "−", "period": ".",
    "slash": "/", "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9", "colon": ":",
    "semicolon": ";", "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\", "bracketright": "]",
    "asciicircum": "^", "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quotedblleft": "“",
    "quotedblright": "”", "quotedblbase": "„", "quotesinglbase": "‚",
    "endash": "–", "emdash": "—", "bullet": "•", "ellipsis": "…",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ", "ffl": "ﬄ",
    "dagger": "†", "daggerdbl": "‡", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›", "exclamdown": "¡",
    "cent": "¢", "sterling": "£", "florin": "ƒ", "yen": "¥",
    "section": "§", "currency": "¤", "copyright": "©",
    "registered": "®", "trademark": "™", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "questiondown": "¿", "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "oslash": "ø", "Oslash": "Ø",
    "dotlessi": "ı", "lslash": "ł", "Lslash": "Ł", "eth": "ð",
    "thorn": "þ", "Thorn": "Þ", "mu": "µ", "paragraph": "¶",
    "euro": "€", "nbspace": " ",
}
for _ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _GLYPH_NAMES[_ch] = _ch
for _base, _code in (
    ("acute", "́"), ("grave", "̀"), ("circumflex", "̂"),
    ("tilde", "̃"), ("dieresis", "̈"), ("ring", "̊"),
    ("cedilla", "̧"), ("caron", "̌"), ("breve", "̆"),
    ("macron", "̄"), ("ogonek", "̨"), ("hungarumlaut", "̋"),
):
    for _letter in "aeiouyncszrlgAEIOUYNCSZRLG":
        import unicodedata as _ud

        try:
            _composed = _ud.normalize("NFC", _letter + _code)
            if len(_composed) == 1:
                _GLYPH_NAMES.setdefault(_letter + _base, _composed)
        except Exception:
            pass


def _glyph_to_char(name: str) -> str:
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return ""
    if name.startswith("u") and len(name) in (5, 7):
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return ""
    return ""


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """bfchar/bfrange sections of a ToUnicode CMap -> code -> str."""
    out: dict[int, str] = {}
    text = cmap.decode("latin-1", "ignore")

    def hex_to_str(hx: str) -> str:
        raw = bytes.fromhex(hx)
        if len(raw) % 2 == 0:
            try:
                return raw.decode("utf-16-be")
            except UnicodeDecodeError:
                pass
        return "".join(chr(b) for b in raw)

    for m in re.finditer(r"beginbfchar(.*?)endbfchar", text, re.S):
        for src, dst in re.findall(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            out[int(src, 16)] = hex_to_str(dst)
    for m in re.finditer(r"beginbfrange(.*?)endbfrange", text, re.S):
        body = m.group(1)
        for lo, hi, dst in re.findall(
            r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", body
        ):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            base = int(dst, 16)
            if len(dst) <= 4:
                for k in range(hi_i - lo_i + 1):
                    out[lo_i + k] = chr(base + k)
                continue
            # a multi-unit destination (a surrogate pair, a ligature):
            # the code k past lo gets the destination plus k as one
            # big-endian number, decoded like a bfchar. Past a last byte
            # of xxFF that carries into the earlier bytes; PDF 32000
            # §9.10.3 bounds a range so that its last byte never wraps.
            width = -(-len(dst) // 2)
            mask = (1 << 8 * width) - 1
            for k in range(hi_i - lo_i + 1):
                out[lo_i + k] = hex_to_str(((base + k) & mask).to_bytes(width, "big").hex())
        for lo, arr in re.findall(r"<([0-9A-Fa-f]+)>\s*<[0-9A-Fa-f]+>\s*\[(.*?)\]", body, re.S):
            lo_i = int(lo, 16)
            for k, dm in enumerate(re.findall(r"<([0-9A-Fa-f]+)>", arr)):
                out[lo_i + k] = hex_to_str(dm)
    return out


class _Memo(dict):
    """key -> ``fn(key)``, computed on first lookup."""

    __slots__ = ("fn",)

    def __init__(self, fn) -> None:
        self.fn = fn

    def __missing__(self, key):
        value = self[key] = self.fn(key)
        return value


class _Font:
    def __init__(self, doc: _Document, fdict: dict) -> None:
        self.doc = doc
        self.chars = _Memo(self.char)  # code -> text
        # (size, Tc, Tw, hscale) -> code -> pen advance
        self._advances: dict[tuple, _Memo] = {}
        fdict = doc.resolve(fdict) or {}
        self.subtype = fdict.get("Subtype")
        self.two_byte = self.subtype == "Type0"
        self.tounicode: dict[int, str] = {}
        tu = doc.resolve(fdict.get("ToUnicode"))
        if isinstance(fdict.get("ToUnicode"), Ref):
            self.tounicode = _parse_tounicode(doc.stream_bytes(fdict["ToUnicode"].num))
        elif isinstance(tu, dict):
            pass
        self.diff_map: dict[int, str] = {}
        self.base_encoding = "standard"
        enc = doc.resolve(fdict.get("Encoding"))
        if isinstance(enc, Name):
            self.base_encoding = str(enc)
        elif isinstance(enc, dict):
            base = enc.get("BaseEncoding")
            if base:
                self.base_encoding = str(base)
            diffs = doc.resolve(enc.get("Differences")) or []
            code = 0
            for item in diffs:
                item = doc.resolve(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, Name):
                    self.diff_map[code] = _glyph_to_char(str(item))
                    code += 1
        # widths
        self.widths: dict[int, float] = {}
        self.default_width = 500.0
        fd = doc.resolve(fdict.get("FontDescriptor"))
        if isinstance(fd, dict) and isinstance(fd.get("MissingWidth"), (int, float)):
            self.default_width = float(fd["MissingWidth"])
        first = doc.resolve(fdict.get("FirstChar"))
        warr = doc.resolve(fdict.get("Widths"))
        if isinstance(first, int) and isinstance(warr, list):
            for i, w in enumerate(warr):
                w = doc.resolve(w)
                if isinstance(w, (int, float)):
                    self.widths[first + i] = float(w)
        if self.two_byte:
            desc = doc.resolve(fdict.get("DescendantFonts"))
            if isinstance(desc, list) and desc:
                d0 = doc.resolve(desc[0])
                if isinstance(d0, dict):
                    dw = doc.resolve(d0.get("DW"))
                    if isinstance(dw, (int, float)):
                        self.default_width = float(dw)
                    self._parse_cid_widths(doc.resolve(d0.get("W")) or [])

    def _parse_cid_widths(self, w: list) -> None:
        i = 0
        while i < len(w):
            c = self.doc.resolve(w[i])
            if i + 1 < len(w) and isinstance(self.doc.resolve(w[i + 1]), list):
                arr = self.doc.resolve(w[i + 1])
                for k, width in enumerate(arr):
                    width = self.doc.resolve(width)
                    if isinstance(width, (int, float)):
                        self.widths[int(c) + k] = float(width)
                i += 2
            elif i + 2 < len(w):
                c2 = self.doc.resolve(w[i + 1])
                width = self.doc.resolve(w[i + 2])
                if all(isinstance(x, (int, float)) for x in (c, c2, width)):
                    for code in range(int(c), int(c2) + 1):
                        self.widths[code] = float(width)
                i += 3
            else:
                break

    def codes(self, raw: bytes):
        """The character codes of a shown string: its bytes, or its
        big-endian 16-bit pairs for a Type0 font (an odd trailing byte
        is dropped)."""
        if self.two_byte:
            n = len(raw) // 2
            return struct.unpack(">%dH" % n, raw[: 2 * n])
        return raw

    def char(self, code: int) -> str:
        if code in self.tounicode:
            return self.tounicode[code]
        if code in self.diff_map:
            return self.diff_map[code]
        if self.two_byte:
            return ""
        if self.base_encoding == "WinAnsiEncoding":
            try:
                return bytes([code]).decode("cp1252")
            except UnicodeDecodeError:
                return ""
        if self.base_encoding == "MacRomanEncoding":
            try:
                return bytes([code]).decode("mac-roman")
            except UnicodeDecodeError:
                return ""
        # StandardEncoding / built-in: latin-1 approximation
        return bytes([code]).decode("latin-1")

    def width(self, code: int) -> float:
        return self.widths.get(code, self.default_width)

    def advances(self, size: float, char_spacing: float, word_spacing: float, hscale: float):
        """code -> horizontal pen advance under one text state (PDF 1.7
        §9.4.4: (w0 * Tfs + Tc + Tw) * Th, Tw for single-byte code 32)."""
        key = (size, char_spacing, word_spacing, hscale)
        memo = self._advances.get(key)
        if memo is None:
            word = not self.two_byte

            def advance(code: int) -> float:
                adv = self.width(code) / 1000.0 * size + char_spacing
                if code == 32 and word:
                    adv += word_spacing
                return adv * hscale

            memo = self._advances[key] = _Memo(advance)
        return memo


# ---------------------------------------------------------------------------
# Content interpreter
# ---------------------------------------------------------------------------

_SPACE_GAP_EM = 0.30  # generated-space threshold, fraction of font size
_LINE_EPS = 0.5  # baseline-y delta treated as a new line


class _TextState:
    __slots__ = ("font", "size", "char_spacing", "word_spacing", "hscale", "leading",
                 "tm", "tlm")

    def __init__(self) -> None:
        self.font: _Font | None = None
        self.size = 0.0
        self.char_spacing = 0.0
        self.word_spacing = 0.0
        self.hscale = 1.0
        self.leading = 0.0
        self.tm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
        self.tlm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]


def _interpret_page(doc: _Document, content: bytes, fonts: dict[str, _Font]) -> str:
    lex = _Lexer(content)
    stack: list = []
    st = _TextState()
    out: list[str] = []
    last_y: float | None = None
    pen_x = 0.0
    last_end_x: float | None = None

    def begin_chunk() -> None:
        nonlocal last_y, last_end_x, pen_x
        y = st.tm[5]
        x = st.tm[4]
        if last_y is None:
            last_y = y
            last_end_x = None
        elif abs(y - last_y) > _LINE_EPS:
            out.append("\r\n")
            last_y = y
            last_end_x = None
        pen_x = x

    def show(raw: bytes) -> None:
        nonlocal pen_x, last_end_x
        font = st.font
        if font is None:
            return
        begin_chunk()
        gap_limit = _SPACE_GAP_EM * st.size if st.size else 1e9
        if (
            last_end_x is not None
            and pen_x - last_end_x > gap_limit
            and out
            and not out[-1].endswith(("\n", " "))
        ):
            out.append(" ")
        codes = font.codes(raw)
        if codes:
            chars = font.chars
            out.append("".join(map(chars.__getitem__, codes)))
            if not chars[codes[-1]]:
                out.append("")  # the space rule above reads the last glyph
            advance = font.advances(st.size, st.char_spacing, st.word_spacing, st.hscale)
            pen_x = reduce(add, map(advance.__getitem__, codes), pen_x)
        last_end_x = pen_x
        st.tm[4] = pen_x

    while True:
        lex.skip_ws()
        if lex.peek() < 0:
            break
        c = lex.peek()
        if c in b"/([<" or (0x30 <= c <= 0x39) or c in b"+-.":
            try:
                stack.append(lex.parse_object())
            except Exception:
                lex.pos += 1
            continue
        op = lex.read_token()
        if not op:
            lex.pos += 1
            continue
        try:
            if op == b"BT":
                st.tm = [1, 0, 0, 1, 0, 0]
                st.tlm = list(st.tm)
            elif op == b"Tf" and len(stack) >= 2:
                size = stack[-1]
                name = stack[-2]
                st.size = float(size) if isinstance(size, (int, float)) else 0.0
                st.font = fonts.get(str(name))
            elif op == b"Td" and len(stack) >= 2:
                tx, ty = float(stack[-2]), float(stack[-1])
                st.tlm[4] += tx * st.tlm[0] + ty * st.tlm[2]
                st.tlm[5] += tx * st.tlm[1] + ty * st.tlm[3]
                st.tm = list(st.tlm)
            elif op == b"TD" and len(stack) >= 2:
                tx, ty = float(stack[-2]), float(stack[-1])
                st.leading = -ty
                st.tlm[4] += tx * st.tlm[0] + ty * st.tlm[2]
                st.tlm[5] += tx * st.tlm[1] + ty * st.tlm[3]
                st.tm = list(st.tlm)
            elif op == b"Tm" and len(stack) >= 6:
                st.tlm = [float(v) for v in stack[-6:]]
                st.tm = list(st.tlm)
            elif op == b"T*":
                st.tlm[4] += st.leading * st.tlm[2] * -1
                st.tlm[5] -= st.leading * st.tlm[3]
                st.tm = list(st.tlm)
            elif op == b"TL" and stack:
                st.leading = float(stack[-1])
            elif op == b"Tc" and stack:
                st.char_spacing = float(stack[-1])
            elif op == b"Tw" and stack:
                st.word_spacing = float(stack[-1])
            elif op == b"Tz" and stack:
                st.hscale = float(stack[-1]) / 100.0
            elif op == b"Tj" and stack:
                if isinstance(stack[-1], bytes):
                    show(stack[-1])
            elif op == b"'" and stack:
                st.tlm[5] -= st.leading * st.tlm[3]
                st.tm = list(st.tlm)
                if isinstance(stack[-1], bytes):
                    show(stack[-1])
            elif op == b'"' and len(stack) >= 3:
                st.word_spacing = float(stack[-3])
                st.char_spacing = float(stack[-2])
                st.tlm[5] -= st.leading * st.tlm[3]
                st.tm = list(st.tlm)
                if isinstance(stack[-1], bytes):
                    show(stack[-1])
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, bytes):
                        show(item)
                    elif isinstance(item, (int, float)):
                        pen_x -= item / 1000.0 * st.size * st.hscale
                        st.tm[4] = pen_x
        except Exception:
            pass
        stack.clear()
    return "".join(out)


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def _page_fonts(doc: _Document, page: dict, built: dict[int, _Font | None]) -> dict[str, _Font]:
    """The page's font resources by name. ``built`` caches each font by
    the identity of its resolved font object, which the document keeps
    alive, so pages sharing a font share one ``_Font`` (None: failed)."""
    res = doc.resolve(page.get("Resources")) or {}
    fonts_dict = doc.resolve(res.get("Font")) if isinstance(res, dict) else {}
    fonts: dict[str, _Font] = {}
    if isinstance(fonts_dict, dict):
        for name, fref in fonts_dict.items():
            fdict = doc.resolve(fref)
            key = id(fdict)
            if key not in built:
                try:
                    built[key] = _Font(doc, fdict)
                except Exception:
                    built[key] = None
            if built[key] is not None:
                fonts[str(name)] = built[key]
    return fonts


def _page_content(doc: _Document, page: dict) -> bytes:
    contents = page.get("Contents")
    refs: list[Ref] = []
    if isinstance(contents, Ref):
        inner = doc.resolve(contents)
        if isinstance(inner, list):
            refs = [r for r in inner if isinstance(r, Ref)]
        else:
            refs = [contents]
    elif isinstance(contents, list):
        refs = [r for r in contents if isinstance(r, Ref)]
    parts = []
    for ref in refs:
        parts.append(doc.stream_bytes(ref.num, cache=False))
    return b"\n".join(parts)


def _parse(stream: bytes, password: bytes = b"") -> tuple[_Document, list[dict]]:
    if not stream.startswith(b"%PDF"):
        raise PdfError("not a pdf")
    doc = _Document(stream, password=password)
    return doc, doc.pages()


class OpenedPdf:
    """A parsed document, ready to interpret any page range: the open
    step of ``pdf_page_texts``. The salted slice stage keeps one open
    for a consecutive run of a document's slice rows and reads the
    page count from it.

    ``password`` unlocks standard-security-handler documents; with the
    default empty password, docs that verify against the empty user
    password decrypt transparently (pdfium behavior) and others raise
    PdfEncryptedError. A non-PDF or an empty page tree raises PdfError."""

    __slots__ = ("_doc", "_pages", "_fonts")

    def __init__(self, stream: bytes, password: bytes = b"") -> None:
        self._doc, self._pages = _parse(stream, password)
        if not self._pages:
            raise PdfError("no pages")
        self._fonts: dict[int, _Font | None] = {}

    @property
    def page_count(self) -> int:
        return len(self._pages)

    def page_texts(self, start: int = 0, stop: int | None = None) -> list[str]:
        """Per-page text of the half-open page range [start, stop)."""
        doc = self._doc
        texts = []
        for page in self._pages[start:stop]:
            fonts = _page_fonts(doc, page, self._fonts)
            content = _page_content(doc, page)
            texts.append(_interpret_page(doc, content, fonts))
        return texts


def pdf_page_texts(
    stream: bytes, start: int = 0, stop: int | None = None, password: bytes = b""
) -> list[str]:
    """Per-page text in page order, optionally restricted to the
    half-open page range [start, stop). The reference concatenates
    page texts with no separator (converter.py:193-197)."""
    return OpenedPdf(stream, password).page_texts(start, stop)


def pdf_page_count(stream: bytes) -> int:
    """Page count; 0 for an empty page tree."""
    return len(_parse(stream)[1])


def pdf_to_text(stream: bytes, password: bytes = b"") -> tuple[str, int]:
    """converter.py:183-211 — (concatenated page texts, page count)."""
    texts = pdf_page_texts(stream, password=password)
    return "".join(texts), len(texts)


_INFO_KEYS = ("Title", "Author", "Producer", "CreationDate")

# PDFDocEncoding (PDF 2.0 / ISO 32000-2 Annex D.4) differs from
# Latin-1 in 0x18-0x1F and 0x80-0x9F — breves/carons/rings in the
# control block, and typographic punctuation (bullets, en/em dashes,
# curly quotes, dagger, trademark, ligatures) in the C1 block — plus
# 0xA0, which is EURO SIGN (not no-break space). 0x7F, 0x9F and 0xAD
# are undefined in PDFDocEncoding.
_PDFDOC_DELTAS = {
    0x18: "˘", 0x19: "ˇ", 0x1A: "ˆ", 0x1B: "˙",
    0x1C: "˝", 0x1D: "˛", 0x1E: "˚", 0x1F: "˜",
    0x7F: "�",
    0x80: "•", 0x81: "†", 0x82: "‡", 0x83: "…",
    0x84: "—", 0x85: "–", 0x86: "ƒ", 0x87: "⁄",
    0x88: "‹", 0x89: "›", 0x8A: "−", 0x8B: "‰",
    0x8C: "„", 0x8D: "“", 0x8E: "”", 0x8F: "‘",
    0x90: "’", 0x91: "‚", 0x92: "™", 0x93: "ﬁ",
    0x94: "ﬂ", 0x95: "Ł", 0x96: "Œ", 0x97: "Š",
    0x98: "Ÿ", 0x99: "Ž", 0x9A: "ı", 0x9B: "ł",
    0x9C: "œ", 0x9D: "š", 0x9E: "ž", 0x9F: "�",
    0xA0: "€",
    0xAD: "�",
}
_PDFDOC_TABLE = str.maketrans(_PDFDOC_DELTAS)


def _pdf_text_string(raw) -> str | None:
    """PDF text-string decode: UTF-16BE with BOM, else PDFDocEncoding
    (Latin-1 plus the 0x18-0x1F / 0x80-0x9F punctuation deltas)."""
    if not isinstance(raw, bytes):
        return None
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return None
    return raw.decode("latin-1").translate(_PDFDOC_TABLE)


def pdf_info(stream: bytes, password: bytes = b"") -> dict[str, str | None]:
    """Document-information dictionary (trailer /Info): Title, Author,
    Producer, CreationDate — the metadata tier next to the text tier
    (the reference exposes a per-document metadata dict,
    processor.py:47; /Info is its PDF analog). Missing entries are
    None; a document without /Info yields all-None."""
    if not stream.startswith(b"%PDF"):
        raise PdfError("not a pdf")
    doc = _Document(stream, password=password)
    out: dict[str, str | None] = {k.lower(): None for k in _INFO_KEYS}
    for t in doc._trailer_dicts():
        info = doc.resolve(t.get("Info"))
        if not isinstance(info, dict):
            continue
        for k in _INFO_KEYS:
            v = doc.resolve(info.get(k))
            s = _pdf_text_string(v)
            if s is not None and out[k.lower()] is None:
                out[k.lower()] = s
    return out
