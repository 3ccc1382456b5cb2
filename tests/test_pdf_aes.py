"""AES-encrypted PDF support (crypt filters AESV2/AESV3, PDF 1.7 §7.6 /
PDF 2.0 §7.6.4): fixtures are built in-test with an independent
encryptor (hashlib + the FIPS-validated AES in extraction/aes.py) and
must decrypt back through the full pdf_to_text pipeline. The reference
opens these via pdfium; fixture pw semantics mirror the no-password
open (empty user password)."""

from __future__ import annotations

import hashlib
import struct

import pytest

from ocr_service_spark.extraction.aes import (
    cbc_decrypt,
    cbc_encrypt,
    decrypt_block,
    encrypt_block,
    _expand_key,
)
from ocr_service_spark.extraction.pdf_text import (
    PdfEncryptedError,
    _PAD,
    _hash_2b,
    _rc4,
    pdf_to_text,
)
from ocr_service_spark.sources.pages import write_text_pdf

PAGE_TEXT = "aes encrypted page payload"
FILE_ID = bytes(range(16))


def test_aes_fips_vectors():
    k = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    assert encrypt_block(_expand_key(k), pt).hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    k256 = bytes(range(32))
    assert encrypt_block(_expand_key(k256), pt).hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert decrypt_block(_expand_key(k256), encrypt_block(_expand_key(k256), pt)) == pt


def _encrypted_pdf(content_enc: bytes, encrypt_dict: str) -> bytes:
    """One page whose content stream (object 4) is already encrypted,
    with the /Encrypt dict as object 6."""
    return write_text_pdf(
        [content_enc],
        extra_objs=(encrypt_dict.encode(),),
        trailer=f" /Encrypt 6 0 R /ID [<{FILE_ID.hex()}> <{FILE_ID.hex()}>]",
    )


def _make_r4_aesv2(user_pw: bytes = b"") -> bytes:
    """Standard handler V4/R4 with an AESV2 StdCF, independent impl."""
    n = 16
    perms = -4
    # Algorithm 3: O entry from the owner password
    od = hashlib.md5((b"owner" + _PAD)[:32]).digest()
    for _ in range(50):
        od = hashlib.md5(od[:n]).digest()
    okey = od[:n]
    o_entry = _rc4(okey, (user_pw + _PAD)[:32])
    for i in range(1, 20):
        o_entry = _rc4(bytes(b ^ i for b in okey), o_entry)
    # Algorithm 2: file key
    md = hashlib.md5()
    md.update((user_pw + _PAD)[:32])
    md.update(o_entry)
    md.update(struct.pack("<i", perms))
    md.update(FILE_ID)
    d = md.digest()
    for _ in range(50):
        d = hashlib.md5(d[:n]).digest()
    key = d[:n]
    # Algorithm 5: U entry
    u = _rc4(key, hashlib.md5(_PAD + FILE_ID).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    u_entry = u + b"\x00" * 16
    # encrypt the content stream (object 4): AES-CBC, per-object key
    content = f"BT /F1 12 Tf 72 700 Td ({PAGE_TEXT}) Tj ET".encode()
    obj_key = hashlib.md5(
        key + struct.pack("<I", 4)[:3] + struct.pack("<I", 0)[:2] + b"sAlT"
    ).digest()[:16]
    iv = bytes(range(16, 32))
    content_enc = iv + cbc_encrypt(obj_key, iv, content)
    return _encrypted_pdf(
        content_enc,
        "<< /Filter /Standard /V 4 /R 4 /Length 128 /P -4"
        " /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
        " /StmF /StdCF /StrF /StdCF"
        f" /O <{o_entry.hex()}> /U <{u_entry.hex()}> >>",
    )


def _make_r6_aesv3(user_pw: bytes = b"") -> bytes:
    """Standard handler V5/R6 (AES-256), independent impl."""
    file_key = bytes(range(100, 132))
    vsalt, ksalt = bytes(range(8)), bytes(range(8, 16))
    u_entry = _hash_2b(user_pw, vsalt, b"") + vsalt + ksalt
    ue = cbc_encrypt(_hash_2b(user_pw, ksalt, b""), b"\x00" * 16, file_key, pad=False)
    content = f"BT /F1 12 Tf 72 700 Td ({PAGE_TEXT}) Tj ET".encode()
    iv = bytes(range(32, 48))
    content_enc = iv + cbc_encrypt(file_key, iv, content)
    return _encrypted_pdf(
        content_enc,
        "<< /Filter /Standard /V 5 /R 6 /Length 256 /P -4"
        " /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
        " /StmF /StdCF /StrF /StdCF"
        f" /O <{(b'o' * 48).hex()}> /OE <{(b'e' * 32).hex()}>"
        f" /U <{u_entry.hex()}> /UE <{ue.hex()}> >>",
    )


def test_aesv2_r4_roundtrip():
    text, pages = pdf_to_text(_make_r4_aesv2())
    assert PAGE_TEXT in text
    assert pages == 1


def test_aesv3_r6_roundtrip():
    text, pages = pdf_to_text(_make_r6_aesv3())
    assert PAGE_TEXT in text
    assert pages == 1


def test_aesv2_wrong_password_raises():
    with pytest.raises(PdfEncryptedError):
        pdf_to_text(_make_r4_aesv2(user_pw=b"secret"))


def test_aesv3_wrong_password_raises():
    with pytest.raises(PdfEncryptedError):
        pdf_to_text(_make_r6_aesv3(user_pw=b"secret"))


def test_cbc_lenient_unpad():
    key = bytes(range(16))
    iv = bytes(16)
    # garbage padding byte: plaintext returned unstripped, no raise
    ct = cbc_encrypt(key, iv, b"A" * 16, pad=False)
    assert cbc_decrypt(key, iv, ct) == b"A" * 16
