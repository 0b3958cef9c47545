"""Minimal pure-Python AES-128/192/256 + CBC/ECB — stdlib only.

Backs the PDF standard security handler's /AESV2 and /AESV3 crypt
filters (functions/pdftext.py): modern "encrypted" web PDFs use
AES-CBC with a per-object (V4) or file (V5) key, and most carry an
empty user password (permissions-only locking), so decrypting them is
a container-parsing job, not a secrets job. The `cryptography`
library is installed but not yet used: ROADMAP item 3 is the change
that adopts it. Until then this is FIPS-197 from first principles:
the S-box is COMPUTED (GF(2^8) inverse + affine transform), not a
pasted table, and both directions are implemented (encrypt for fixture
generation, decrypt for extraction).

Performance note: the block ciphers use the classic 32-bit T-table
formulation (SubBytes+ShiftRows+MixColumns fused into four 256-entry
word tables, four lookups per column per round — the same structure
OpenSSL's C reference uses), because the PDF 2.0 R6 password hash
(Algorithm 2.B) drives ~16k sequential block encryptions per password
and the naive byte-wise round was the extraction pipeline's slowest
pure-Python kernel. Still ~0.2 µs/byte in CPython; a real deployment
drops `cryptography`'s AES in behind the same functions.
"""

from __future__ import annotations

import struct


def _gf_mul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B  # x^8 + x^4 + x^3 + x + 1
        b >>= 1
    return p


def _build_sbox() -> tuple[bytes, bytes]:
    # multiplicative inverse via exp/log tables over generator 3
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x = _gf_mul(x, 3)
    for i in range(255, 512):
        exp[i] = exp[i - 255]

    def inv(a: int) -> int:
        return 0 if a == 0 else exp[255 - log[a]]

    sbox = bytearray(256)
    for a in range(256):
        q = inv(a)
        # affine transform: b ^ rot1 ^ rot2 ^ rot3 ^ rot4 ^ 0x63
        r = q
        for _ in range(4):
            q = ((q << 1) | (q >> 7)) & 0xFF
            r ^= q
        sbox[a] = r ^ 0x63
    inv_sbox = bytearray(256)
    for a, s in enumerate(sbox):
        inv_sbox[s] = a
    return bytes(sbox), bytes(inv_sbox)


SBOX, INV_SBOX = _build_sbox()
_RCON = [0x01]
while len(_RCON) < 14:
    _RCON.append(_gf_mul(_RCON[-1], 2))

# GF(2^8) multiplication tables for the (Inv)MixColumns constants
_M2, _M3, _M9, _M11, _M13, _M14 = (
    [_gf_mul(a, c) for a in range(256)] for c in (2, 3, 9, 11, 13, 14))


def _build_ttables() -> tuple[list[list[int]], list[list[int]]]:
    """Encrypt tables Te0-3 and decrypt tables Td0-3. Te0[x] packs
    MixColumns applied to S[x] as a big-endian column word (2s,s,s,3s);
    Te1-3 are successive 8-bit right rotations (the ShiftRows offsets).
    Td uses the inverse S-box and InvMixColumns constants (14,9,13,11)."""
    te0, td0 = [0] * 256, [0] * 256
    for x in range(256):
        s = SBOX[x]
        te0[x] = (_M2[s] << 24) | (s << 16) | (s << 8) | _M3[s]
        si = INV_SBOX[x]
        td0[x] = ((_M14[si] << 24) | (_M9[si] << 16)
                  | (_M13[si] << 8) | _M11[si])

    def ror8(t: list[int]) -> list[int]:
        return [((w >> 8) | (w << 24)) & 0xFFFFFFFF for w in t]

    te1 = ror8(te0)
    te2 = ror8(te1)
    td1 = ror8(td0)
    td2 = ror8(td1)
    return [te0, te1, te2, ror8(te2)], [td0, td1, td2, ror8(td2)]


(_TE0, _TE1, _TE2, _TE3), (_TD0, _TD1, _TD2, _TD3) = _build_ttables()


def _sub_word(t: int) -> int:
    return ((SBOX[(t >> 24) & 255] << 24) | (SBOX[(t >> 16) & 255] << 16)
            | (SBOX[(t >> 8) & 255] << 8) | SBOX[t & 255])


def _imc_word(w: int) -> int:
    """InvMixColumns over one column word (decrypt key-schedule
    transform of the equivalent inverse cipher)."""
    a0, a1, a2, a3 = (w >> 24) & 255, (w >> 16) & 255, (w >> 8) & 255, w & 255
    return ((_M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]) << 24 |
            (_M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]) << 16 |
            (_M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]) << 8 |
            (_M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]))


class _KeySchedule:
    """Expanded round keys as big-endian column words. The decrypt
    schedule (InvMixColumns-transformed inner round keys, per the
    equivalent inverse cipher) is derived lazily — Algorithm 2.B
    re-keys every round and only ever encrypts."""

    __slots__ = ("enc", "nr", "_dec")

    def __init__(self, key: bytes) -> None:
        nk = len(key) // 4
        if len(key) % 4 or nk not in (4, 6, 8):
            raise ValueError("AES key must be 16/24/32 bytes")
        nr = nk + 6
        w = list(struct.unpack(">%dI" % nk, key))
        for i in range(nk, 4 * (nr + 1)):
            t = w[i - 1]
            if i % nk == 0:
                t = _sub_word(((t << 8) | (t >> 24)) & 0xFFFFFFFF)
                t ^= _RCON[i // nk - 1] << 24
            elif nk > 6 and i % nk == 4:
                t = _sub_word(t)
            w.append(w[i - nk] ^ t)
        self.enc = [w[4 * r: 4 * r + 4] for r in range(nr + 1)]
        self.nr = nr
        self._dec = None

    @property
    def dec(self) -> list[list[int]]:
        if self._dec is None:
            self._dec = [rk if r in (0, self.nr) else
                         [_imc_word(x) for x in rk]
                         for r, rk in enumerate(self.enc)]
        return self._dec


def _expand_key(key: bytes) -> _KeySchedule:
    return _KeySchedule(key)


def _encrypt_words(w0: int, w1: int, w2: int, w3: int,
                   ks: _KeySchedule) -> tuple[int, int, int, int]:
    enc = ks.enc
    rk = enc[0]
    w0 ^= rk[0]
    w1 ^= rk[1]
    w2 ^= rk[2]
    w3 ^= rk[3]
    nr = ks.nr
    for r in range(1, nr):
        rk = enc[r]
        n0 = (_TE0[(w0 >> 24) & 255] ^ _TE1[(w1 >> 16) & 255]
              ^ _TE2[(w2 >> 8) & 255] ^ _TE3[w3 & 255] ^ rk[0])
        n1 = (_TE0[(w1 >> 24) & 255] ^ _TE1[(w2 >> 16) & 255]
              ^ _TE2[(w3 >> 8) & 255] ^ _TE3[w0 & 255] ^ rk[1])
        n2 = (_TE0[(w2 >> 24) & 255] ^ _TE1[(w3 >> 16) & 255]
              ^ _TE2[(w0 >> 8) & 255] ^ _TE3[w1 & 255] ^ rk[2])
        n3 = (_TE0[(w3 >> 24) & 255] ^ _TE1[(w0 >> 16) & 255]
              ^ _TE2[(w1 >> 8) & 255] ^ _TE3[w2 & 255] ^ rk[3])
        w0, w1, w2, w3 = n0, n1, n2, n3
    rk = enc[nr]
    s = SBOX
    return (((s[(w0 >> 24) & 255] << 24) | (s[(w1 >> 16) & 255] << 16)
             | (s[(w2 >> 8) & 255] << 8) | s[w3 & 255]) ^ rk[0],
            ((s[(w1 >> 24) & 255] << 24) | (s[(w2 >> 16) & 255] << 16)
             | (s[(w3 >> 8) & 255] << 8) | s[w0 & 255]) ^ rk[1],
            ((s[(w2 >> 24) & 255] << 24) | (s[(w3 >> 16) & 255] << 16)
             | (s[(w0 >> 8) & 255] << 8) | s[w1 & 255]) ^ rk[2],
            ((s[(w3 >> 24) & 255] << 24) | (s[(w0 >> 16) & 255] << 16)
             | (s[(w1 >> 8) & 255] << 8) | s[w2 & 255]) ^ rk[3])


def _decrypt_words(w0: int, w1: int, w2: int, w3: int,
                   ks: _KeySchedule) -> tuple[int, int, int, int]:
    dec = ks.dec
    nr = ks.nr
    rk = dec[nr]
    w0 ^= rk[0]
    w1 ^= rk[1]
    w2 ^= rk[2]
    w3 ^= rk[3]
    for r in range(nr - 1, 0, -1):
        rk = dec[r]
        n0 = (_TD0[(w0 >> 24) & 255] ^ _TD1[(w3 >> 16) & 255]
              ^ _TD2[(w2 >> 8) & 255] ^ _TD3[w1 & 255] ^ rk[0])
        n1 = (_TD0[(w1 >> 24) & 255] ^ _TD1[(w0 >> 16) & 255]
              ^ _TD2[(w3 >> 8) & 255] ^ _TD3[w2 & 255] ^ rk[1])
        n2 = (_TD0[(w2 >> 24) & 255] ^ _TD1[(w1 >> 16) & 255]
              ^ _TD2[(w0 >> 8) & 255] ^ _TD3[w3 & 255] ^ rk[2])
        n3 = (_TD0[(w3 >> 24) & 255] ^ _TD1[(w2 >> 16) & 255]
              ^ _TD2[(w1 >> 8) & 255] ^ _TD3[w0 & 255] ^ rk[3])
        w0, w1, w2, w3 = n0, n1, n2, n3
    rk = dec[0]
    s = INV_SBOX
    return (((s[(w0 >> 24) & 255] << 24) | (s[(w3 >> 16) & 255] << 16)
             | (s[(w2 >> 8) & 255] << 8) | s[w1 & 255]) ^ rk[0],
            ((s[(w1 >> 24) & 255] << 24) | (s[(w0 >> 16) & 255] << 16)
             | (s[(w3 >> 8) & 255] << 8) | s[w2 & 255]) ^ rk[1],
            ((s[(w2 >> 24) & 255] << 24) | (s[(w1 >> 16) & 255] << 16)
             | (s[(w0 >> 8) & 255] << 8) | s[w3 & 255]) ^ rk[2],
            ((s[(w3 >> 24) & 255] << 24) | (s[(w2 >> 16) & 255] << 16)
             | (s[(w1 >> 8) & 255] << 8) | s[w0 & 255]) ^ rk[3])


def _encrypt_block(block: bytes, ks: _KeySchedule) -> bytes:
    return struct.pack(
        ">4I", *_encrypt_words(*struct.unpack(">4I", block), ks))


def _decrypt_block(block: bytes, ks: _KeySchedule) -> bytes:
    return struct.pack(
        ">4I", *_decrypt_words(*struct.unpack(">4I", block), ks))


def _gen_cbc128_unrolled():
    """Source-generate the AES-128 CBC encrypt loop with all ten rounds
    unrolled and the 44 round-key words bound to locals. CPython spends
    most of the generic path in loop bookkeeping and `enc[r]`/`rk[j]`
    list indexing per round; binding every table and key word to a
    LOAD_FAST turns the round function into straight-line int ops
    (measured 1.2x on the Algorithm-2.B workload, the slowest serial
    task in the encrypted-PDF path). Bit-identical by construction:
    the expressions are the same T-table formulation `_encrypt_words`
    evaluates, only with the r-loop textually expanded."""
    rounds = []
    for r in range(1, 10):
        b = 4 * r
        rounds.append(f"""
        n0 = T0[w0 >> 24] ^ T1[(w1 >> 16) & 255] ^ T2[(w2 >> 8) & 255] ^ T3[w3 & 255] ^ k{b}
        n1 = T0[w1 >> 24] ^ T1[(w2 >> 16) & 255] ^ T2[(w3 >> 8) & 255] ^ T3[w0 & 255] ^ k{b + 1}
        n2 = T0[w2 >> 24] ^ T1[(w3 >> 16) & 255] ^ T2[(w0 >> 8) & 255] ^ T3[w1 & 255] ^ k{b + 2}
        n3 = T0[w3 >> 24] ^ T1[(w0 >> 16) & 255] ^ T2[(w1 >> 8) & 255] ^ T3[w2 & 255] ^ k{b + 3}
        w0, w1, w2, w3 = n0, n1, n2, n3""")
    src = f"""
def _cbc128_encrypt_unrolled(ks_flat, iv, data):
    ({", ".join(f"k{i}" for i in range(44))},) = ks_flat
    T0, T1, T2, T3 = _TE0, _TE1, _TE2, _TE3
    S = SBOX
    n4 = (len(data) // 16) * 4
    words = struct.unpack(">%dI" % n4, data)
    p0, p1, p2, p3 = struct.unpack(">4I", iv)
    out = []
    ap = out.extend
    for i in range(0, n4, 4):
        w0 = words[i] ^ p0 ^ k0
        w1 = words[i + 1] ^ p1 ^ k1
        w2 = words[i + 2] ^ p2 ^ k2
        w3 = words[i + 3] ^ p3 ^ k3{"".join(rounds)}
        p0 = ((S[w0 >> 24] << 24) | (S[(w1 >> 16) & 255] << 16)
              | (S[(w2 >> 8) & 255] << 8) | S[w3 & 255]) ^ k40
        p1 = ((S[w1 >> 24] << 24) | (S[(w2 >> 16) & 255] << 16)
              | (S[(w3 >> 8) & 255] << 8) | S[w0 & 255]) ^ k41
        p2 = ((S[w2 >> 24] << 24) | (S[(w3 >> 16) & 255] << 16)
              | (S[(w0 >> 8) & 255] << 8) | S[w1 & 255]) ^ k42
        p3 = ((S[w3 >> 24] << 24) | (S[(w0 >> 16) & 255] << 16)
              | (S[(w1 >> 8) & 255] << 8) | S[w2 & 255]) ^ k43
        ap((p0, p1, p2, p3))
    return struct.pack(">%dI" % n4, *out)
"""
    ns = {"_TE0": _TE0, "_TE1": _TE1, "_TE2": _TE2, "_TE3": _TE3,
          "SBOX": SBOX, "struct": struct}
    exec(src, ns)
    return ns["_cbc128_encrypt_unrolled"]


_cbc128_encrypt = _gen_cbc128_unrolled()


def _cbc_encrypt_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    ks = _expand_key(key)
    if ks.nr == 10:  # AES-128: the Algorithm-2.B hot loop
        return _cbc128_encrypt(
            tuple(w for rk in ks.enc for w in rk), iv, data)
    n = len(data) // 16
    words = struct.unpack(">%dI" % (4 * n), data)
    p0, p1, p2, p3 = struct.unpack(">4I", iv)
    out = []
    for i in range(0, 4 * n, 4):
        p0, p1, p2, p3 = _encrypt_words(
            words[i] ^ p0, words[i + 1] ^ p1,
            words[i + 2] ^ p2, words[i + 3] ^ p3, ks)
        out += (p0, p1, p2, p3)
    return struct.pack(">%dI" % len(out), *out)


def _cbc_decrypt_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    ks = _expand_key(key)
    n = len(data) // 16
    words = struct.unpack(">%dI" % (4 * n), data)
    p0, p1, p2, p3 = struct.unpack(">4I", iv)
    out = []
    for i in range(0, 4 * n, 4):
        c0, c1, c2, c3 = words[i: i + 4]
        d0, d1, d2, d3 = _decrypt_words(c0, c1, c2, c3, ks)
        out += (d0 ^ p0, d1 ^ p1, d2 ^ p2, d3 ^ p3)
        p0, p1, p2, p3 = c0, c1, c2, c3
    return struct.pack(">%dI" % len(out), *out)


def cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """AES-CBC with PKCS#7 padding → iv is NOT prepended (callers
    decide; the PDF format prepends it to the stream data)."""
    pad = 16 - len(plaintext) % 16
    return _cbc_encrypt_raw(key, iv, plaintext + bytes([pad]) * pad)


def cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw AES-CBC over already-block-aligned data (no padding) — the
    primitive the PDF R6 password hash (Algorithm 2.B) iterates and
    the /UE file-key unwrap uses."""
    if len(data) % 16 or not data:
        raise ValueError("CBC-nopad data not block-aligned")
    return _cbc_encrypt_raw(key, iv, data)


def cbc_decrypt_nopad(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    """Raw AES-CBC decrypt without padding removal (the /UE // /OE
    entries wrap exactly 32 key bytes)."""
    if len(ciphertext) % 16 or not ciphertext:
        raise ValueError("CBC-nopad ciphertext not block-aligned")
    return _cbc_decrypt_raw(key, iv, ciphertext)


def cbc_decrypt(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    """AES-CBC decrypt + PKCS#7 unpad; raises ValueError on bad
    padding/length (callers quarantine)."""
    if len(ciphertext) % 16 or not ciphertext:
        raise ValueError("AES-CBC ciphertext not block-aligned")
    out = _cbc_decrypt_raw(key, iv, ciphertext)
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad AES-CBC padding")
    return out[:-pad]


def ecb_decrypt_block(key: bytes, block: bytes) -> bytes:
    """Single-block AES-ECB decrypt — the PDF V5 /Perms permissions
    check (ISO 32000-2 7.6.4.4.12) decrypts exactly one block."""
    if len(block) != 16:
        raise ValueError("ECB block must be 16 bytes")
    return _decrypt_block(block, _expand_key(key))


def ecb_encrypt_block(key: bytes, block: bytes) -> bytes:
    """Single-block AES-ECB encrypt (fixture-side /Perms generation)."""
    if len(block) != 16:
        raise ValueError("ECB block must be 16 bytes")
    return _encrypt_block(block, _expand_key(key))
