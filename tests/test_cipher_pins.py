"""Known-answer pins for the PDF ciphers, through the public names.

The AES and RC4 primitives behind the standard security handler
(`aescipher.cbc_*` / `ecb_decrypt_block`, `pdftext._rc4`) and the
PDF 2.0 R6 password hash (`pdftext._hash_2b`) are pinned to published
vectors (FIPS-197 Appendix C, NIST SP 800-38A F.2, RFC 6229) and to
recorded outputs. The `ValueError` texts are pinned too: they end up
verbatim in quarantine rows (`pdf: ValueError('...')`), so a cipher
backend swap must keep every one of them byte-identical, including
the check order (length before key).
"""

from __future__ import annotations

import pytest

from effocr_spark.functions.aescipher import (cbc_decrypt,
                                              cbc_decrypt_nopad,
                                              cbc_encrypt,
                                              cbc_encrypt_nopad,
                                              ecb_decrypt_block)
from effocr_spark.functions.pdftext import _hash_2b, _rc4

_FIPS_PT = bytes.fromhex("00112233445566778899aabbccddeeff")


@pytest.mark.parametrize("key, ct", [
    (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),  # C.1
    (bytes(range(24)), "dda97ca4864cdfe06eaf70a0ec0d7191"),  # C.2
    (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089"),  # C.3
])
def test_fips197_appendix_c_through_ecb_decrypt_block(key, ct):
    assert ecb_decrypt_block(key, bytes.fromhex(ct)) == _FIPS_PT


_SP800_38A_PT = bytes.fromhex(
    "6bc1bee22e409f96e93d7e117393172a"
    "ae2d8a571e03ac9c9eb76fac45af8e51"
    "30c81c46a35ce411e5fbc1191a0a52ef"
    "f69f2445df4f9b17ad2b417be66c3710")


@pytest.mark.parametrize("key, ct", [
    ("2b7e151628aed2a6abf7158809cf4f3c",  # F.2.1 / F.2.2 (AES-128)
     "7649abac8119b246cee98e9b12e9197d5086cb9b507219ee95db113a917678b2"
     "73bed6b8e3c1743b7116e69e222295163ff1caa1681fac09120eca307586e1a7"),
    ("603deb1015ca71be2b73aef0857d7781"  # F.2.5 / F.2.6 (AES-256)
     "1f352c073b6108d72d9810a30914dff4",
     "f58c4c04d6e5f1ba779eabfb5f7bfbd69cfc4e967edb808d679f777bc6702c7d"
     "39f23369a9d9bacfa530e26304231461b2eb05e2c39be9fcda6c19078c6a9d1b"),
])
def test_sp800_38a_cbc_through_nopad(key, ct):
    key, ct, iv = bytes.fromhex(key), bytes.fromhex(ct), bytes(range(16))
    assert cbc_encrypt_nopad(key, iv, _SP800_38A_PT) == ct
    assert cbc_decrypt_nopad(key, iv, ct) == _SP800_38A_PT


def test_cbc_pkcs7_roundtrip_and_recorded_outputs():
    key, iv = bytes(range(16)), bytes(range(16))
    assert cbc_encrypt(key, iv, b"hello world").hex() == \
        "7caf58cd4062c28fd34f7c6aa2212fef"
    assert cbc_encrypt(key, iv, b"").hex() == \
        "07feef74e1d5036e900eee118e949293"  # one whole pad block
    assert cbc_encrypt(key, iv, bytes(16)).hex() == (
        "0a940bb5416ef045f1c39458c653ea5a"
        "d172ce43bf147f4dffa206c1d372ddca")
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(n))
        assert cbc_decrypt(key, iv, cbc_encrypt(key, iv, data)) == data


@pytest.mark.parametrize("key, offsets", [
    ("0102030405", {
        0: "b2396305f03dc027ccc3524a0a1118a8",
        16: "6982944f18fc82d589c403a47a0d0919",
        240: "28cb1132c96ce286421dcaadb8b69eae",
        256: "1cfcf62b03eddb641d77dfcf7f8d8c93",
        1008: "45129048e6a0ed0b56b490338f078da5",
        1024: "30abbcc7c20b01609f23ee2d5f6bb7df",
        4080: "068326a2118416d21f9d04b2cd1ca050",
        4096: "ff25b58995996707e51fbdf08b34d875"}),
    ("0102030405060708090a0b0c0d0e0f10", {
        0: "9ac7cc9a609d1ef7b2932899cde41b97",
        16: "5248c4959014126a6e8a84f11d1a9e1c",
        240: "065902e4b620f6cc36c8589f66432f2b",
        256: "d39d566bc6bce3010768151549f3873f",
        1008: "e7a72574f8782ae26aabcf9ebcd66065",
        1024: "bdf0324e6083dcc6d3cedd3ca8c53c16",
        4080: "ff38265c1642c1abe8d3c2fe5e572bf8",
        4096: "a36a4c301ae8ac13610ccbc12256cacc"}),
])
def test_rfc6229_rc4_keystream(key, offsets):
    stream = _rc4(bytes.fromhex(key), bytes(4112))
    for off, want in offsets.items():
        assert stream[off:off + 16].hex() == want, off
    # RC4 is its own inverse: the same call decrypts
    msg = b"RC4 is symmetric"
    assert _rc4(b"k", _rc4(b"k", msg)) == msg
    assert _rc4(b"k", b"") == b""


@pytest.mark.parametrize("pw, salt, udata, want", [
    (b"", b"saltsalt", b"",
     "f383e1cdcd8e7e67f45a599473d3f5a7bd181c381364391074cafe0713e3331d"),
    (b"user pw", bytes(range(1, 9)), b"",
     "8087ba178e6ed9da45d9adc08dfa06a83e5473fcaa856820267508caa6676880"),
    (b"owner", b"ABCDEFGH", bytes(range(48)),  # owner hash: udata = /U
     "fd63a9209e1350bba7bd5911dd8b88343120e09efdbe554734e73bd9bb972d7c"),
], ids=["empty-pw", "user-pw", "owner-with-udata"])
def test_hash_2b_r6_recorded_outputs(pw, salt, udata, want):
    assert _hash_2b(pw, salt, udata, 6).hex() == want


_KEY_ERR = "AES key must be 16/24/32 bytes"
_IV = bytes(16)
_K16 = bytes(16)
# an /AESV2 object key derived from /Length 40: 5 + 5 bytes
_K10 = bytes(10)


@pytest.mark.parametrize("fn, args, msg", [
    (cbc_encrypt, (_K10, _IV, b"x"), _KEY_ERR),
    (cbc_encrypt_nopad, (_K10, _IV, bytes(16)), _KEY_ERR),
    (cbc_encrypt_nopad, (_K16, _IV, b""), "CBC-nopad data not block-aligned"),
    (cbc_encrypt_nopad, (_K10, _IV, bytes(5)),
     "CBC-nopad data not block-aligned"),
    (cbc_decrypt_nopad, (_K10, _IV, bytes(16)), _KEY_ERR),
    (cbc_decrypt_nopad, (_K16, _IV, b""),
     "CBC-nopad ciphertext not block-aligned"),
    (cbc_decrypt_nopad, (_K10, _IV, bytes(17)),
     "CBC-nopad ciphertext not block-aligned"),
    (cbc_decrypt, (_K10, _IV, bytes(16)), _KEY_ERR),
    (cbc_decrypt, (bytes(20), _IV, bytes(16)), _KEY_ERR),
    (cbc_decrypt, (_K10, _IV, bytes(15)),
     "AES-CBC ciphertext not block-aligned"),
    (cbc_decrypt, (_K16, _IV, b""), "AES-CBC ciphertext not block-aligned"),
    (cbc_decrypt, (_K16, _IV, bytes(16)), "bad AES-CBC padding"),
    (ecb_decrypt_block, (_K10, bytes(16)), _KEY_ERR),
    (ecb_decrypt_block, (_K16, bytes(15)), "ECB block must be 16 bytes"),
    (ecb_decrypt_block, (_K10, bytes(15)), "ECB block must be 16 bytes"),
])
def test_value_error_texts(fn, args, msg):
    with pytest.raises(ValueError) as ei:
        fn(*args)
    assert str(ei.value) == msg
    assert type(ei.value) is ValueError


@pytest.mark.parametrize("last", [b"\x00", b"\x11", b"\x01\x02",
                                  b"\x03" * 2])
def test_bad_pkcs7_padding_is_rejected(last):
    """A pad byte outside 1..16, or pad bytes that disagree, fail the
    unpad with the one padding text."""
    key, iv = bytes(range(16)), bytes(16)
    ct = cbc_encrypt_nopad(key, iv, bytes(16 - len(last)) + last)
    with pytest.raises(ValueError, match="^bad AES-CBC padding$"):
        cbc_decrypt(key, iv, ct)


@pytest.mark.parametrize("n, digest", [
    (1, "000cc217f354611767327f075107f9f9"),
    (2, "c2b4158e9649473650979dcfbc037420"),
    (3, "f9ce0a677e82deea732a56c1b89c89fa"),
    (4, "1dbdef987b56925ce46983f151e71598"),
    (5, "2f8223efcc5b1263a258acf4bded9165"),
    (6, "107a2796bd8647cb71d65f228796a9bd"),
    (7, "43ad7c333336732384eb80a15f8d2eda"),
    (8, "a7158c9de677751a5c666b90eab4b47b"),
    (9, "9b2900f669483a0add5b39fa8baeab36"),
    (10, "4902a26a279830f44d6c50b41f23abde"),
    (11, "c22785ab41a2c7ac6be5154716386f56"),
    (12, "34b687bba3416cbe0eddef4e0da15ddc"),
    (13, "380810fc82507cadb41a02d0de25c0f6"),
    (14, "b88253dab149724667ffff2bc37bd42c"),
    (15, "f51ffad546235dee522432fbd55ca7fb"),
    (16, "49af6fb1ae85a4a8835f73dd629583fc"),
])
def test_rc4_every_key_length_a_pdf_derives(n, digest):
    """A /Length of 40-128 bits in 8-bit steps gives 5- to 16-byte file
    keys and 10- to 16-byte object keys; RFC 6229 covers only some of
    those lengths, so every length 1-16 is pinned (sha256 prefix of
    1 KB of keystream for key 01 02 .. n)."""
    import hashlib

    stream = _rc4(bytes(range(1, n + 1)), bytes(1024))
    assert hashlib.sha256(stream).hexdigest()[:32] == digest


@pytest.mark.parametrize("r, length", [(2, b"/Length 40"),
                                       (3, b"/Length 128"),
                                       (4, b"/Length 128")])
def test_empty_file_key_quarantine_text(r, length):
    """/Length under 8 derives an empty file key; the document raises
    the same error every time instead of reaching the cipher with it."""
    from effocr_spark.functions.pdftext import extract_pdf_text
    from effocr_spark.synth.pdfgen import make_encrypted_pdf

    pdf = make_encrypted_pdf([["x"]], r=r)
    assert length in pdf
    for bad in (b"/Length 0", b"/Length 7"):
        with pytest.raises(ZeroDivisionError) as ei:
            extract_pdf_text(pdf.replace(length, bad))
        assert repr(ei.value) == "ZeroDivisionError('integer modulo by zero')"
