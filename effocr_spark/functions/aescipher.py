"""AES-128/192/256 CBC/ECB for the PDF standard security handler.

Backs the /AESV2 and /AESV3 crypt filters (functions/pdftext.py):
modern "encrypted" web PDFs use AES-CBC with a per-object (V4) or file
(V5) key, and most carry an empty user password (permissions-only
locking), so decrypting them is a container-parsing job, not a
secrets job. The block cipher is OpenSSL's, through the `cryptography`
package, a runtime dependency of encrypted-PDF extraction (RC4 for
V1/V2 documents comes from the same package, `pdftext._rc4`).

The key length and block alignment are checked before the library
sees the data, and PKCS#7 padding is added and checked here, so every
`ValueError` a quarantine row carries has our text.
"""

from __future__ import annotations

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes


def _aes(key: bytes, mode: modes.Mode) -> Cipher:
    if len(key) not in (16, 24, 32):
        raise ValueError("AES key must be 16/24/32 bytes")
    return Cipher(algorithms.AES(key), mode)


def cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """AES-CBC with PKCS#7 padding → iv is NOT prepended (callers
    decide; the PDF format prepends it to the stream data)."""
    pad = 16 - len(plaintext) % 16
    return cbc_encrypt_nopad(key, iv, plaintext + bytes([pad]) * pad)


def cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw AES-CBC over already-block-aligned data (no padding) — the
    primitive the PDF R6 password hash (Algorithm 2.B) iterates and
    the /UE file-key wrap uses."""
    if len(data) % 16 or not data:
        raise ValueError("CBC-nopad data not block-aligned")
    enc = _aes(key, modes.CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def cbc_decrypt_nopad(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    """Raw AES-CBC decrypt without padding removal (the /UE // /OE
    entries wrap exactly 32 key bytes)."""
    if len(ciphertext) % 16 or not ciphertext:
        raise ValueError("CBC-nopad ciphertext not block-aligned")
    dec = _aes(key, modes.CBC(iv)).decryptor()
    return dec.update(ciphertext) + dec.finalize()


def cbc_decrypt(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    """AES-CBC decrypt + PKCS#7 unpad; raises ValueError on bad
    padding/length (callers quarantine)."""
    if len(ciphertext) % 16 or not ciphertext:
        raise ValueError("AES-CBC ciphertext not block-aligned")
    out = cbc_decrypt_nopad(key, iv, ciphertext)
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad AES-CBC padding")
    return out[:-pad]


def ecb_decrypt_block(key: bytes, block: bytes) -> bytes:
    """Single-block AES-ECB decrypt — the PDF V5 /Perms permissions
    check (ISO 32000-2 7.6.4.4.12) decrypts exactly one block."""
    if len(block) != 16:
        raise ValueError("ECB block must be 16 bytes")
    dec = _aes(key, modes.ECB()).decryptor()
    return dec.update(block) + dec.finalize()
