"""CCITT Group 4 (ITU-T T.6, 2-D MMR) codec — from scratch, stdlib+numpy.

Scanned-newspaper PDFs (the project's north-star corpus) predominantly
carry G4-fax image XObjects (/CCITTFaxDecode with /K < 0), not DCT —
this feeds those pages' pixels into the same OCR branch the DCT path
uses (functions/pdftext.extract_pdf_images → operators/extract.
page_images). The reference repo has no PDF/fax handling at all;
scope mirrors the other from-scratch codecs here (synth/jpegcodec.py,
synth/wavcodec.py).

Implements pure two-dimensional coding: pass / horizontal / vertical
(V0, VR1-3, VL1-3) modes against the reference line, with the full T.4
modified-Huffman run-length tables (white + black terminating codes
0-63, per-color makeup codes 64-1728, shared extended makeup codes
1792-2560) used by horizontal mode. EOFB is honored when present and
not required. G3 (T.4) decodes too: pure 1-D MH lines (K = 0, EOLs
optional with fill bits) and mixed mode (K > 0, per-line tag bits,
2-D lines reusing the T.6 mode machinery); /EncodedByteAlign
(byte-aligned row starts) is supported across G3 and G4.

Correctness strategy (no external fax oracle in this container): the
encoder and decoder are INDEPENDENT walks of the same published code
tables; tests pin (a) structural table properties a transcription slip
would break (prefix-freeness and uniqueness per color class), (b)
hand-derived known-answer bitstreams for the 2-D modes (e.g. an
all-white row is exactly one V0 bit), and (c) roundtrips across run
lengths that exercise terminating, makeup, and multi-makeup (>2560)
code paths.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------- T.4 code tables
# (run length, code bits as a string). Terminating codes 0-63, then
# per-color makeup codes; extended makeup codes are shared.

_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011",
    14: "110100", 15: "110101", 16: "101010", 17: "101011",
    18: "0100111", 19: "0001100", 20: "0001000", 21: "0010111",
    22: "0000011", 23: "0000100", 24: "0101000", 25: "0101011",
    26: "0010011", 27: "0100100", 28: "0011000", 29: "00000010",
    30: "00000011", 31: "00011010", 32: "00011011", 33: "00010010",
    34: "00010011", 35: "00010100", 36: "00010101", 37: "00010110",
    38: "00010111", 39: "00101000", 40: "00101001", 41: "00101010",
    42: "00101011", 43: "00101100", 44: "00101101", 45: "00000100",
    46: "00000101", 47: "00001010", 48: "00001011", 49: "01010010",
    50: "01010011", 51: "01010100", 52: "01010101", 53: "00100100",
    54: "00100101", 55: "01011000", 56: "01011001", 57: "01011010",
    58: "01011011", 59: "01001010", 60: "01001011", 61: "00110010",
    62: "00110011", 63: "00110100",
}
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100",
    512: "01100101", 576: "01101000", 640: "01100111",
    704: "011001100", 768: "011001101", 832: "011010010",
    896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}
_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
}
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

_EOFB = "000000000001" * 2  # EOL + EOL ends a G4 image


def _decode_map(color: int) -> dict[str, int]:
    term = _BLACK_TERM if color else _WHITE_TERM
    makeup = _BLACK_MAKEUP if color else _WHITE_MAKEUP
    out = dict()
    for run, bits in {**term, **makeup, **_EXT_MAKEUP}.items():
        out[bits] = run
    return out


_DEC = {0: _decode_map(0), 1: _decode_map(1)}
_MAX_CODE_LEN = 14


class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, np.uint8))
        self.pos = 0

    def read(self) -> int:
        if self.pos >= len(self.bits):
            raise ValueError("truncated G4 stream")
        b = int(self.bits[self.pos])
        self.pos += 1
        return b

    def peek_str(self, n: int) -> str:
        end = min(self.pos + n, len(self.bits))
        return "".join(str(int(b)) for b in self.bits[self.pos:end])


def _read_run(br: _BitReader, color: int) -> int:
    """One complete run length: zero or more makeup codes followed by a
    terminating code (T.4 §4.2.1.3: run = sum of all codes)."""
    table = _DEC[color]
    total = 0
    while True:
        code = ""
        run = None
        for _ in range(_MAX_CODE_LEN):
            code += str(br.read())
            if code in table:
                run = table[code]
                break
        if run is None:
            raise ValueError(f"bad {'black' if color else 'white'} "
                             f"run code {code!r}")
        total += run
        if run < 64:  # terminating code ends the run
            return total


def g4_decode(data: bytes, columns: int, rows: int | None = None,
              black_is_1: bool = False,
              byte_align: bool = False) -> np.ndarray:
    """G4 (T.6) bytes → uint8 grayscale (H, columns), ink black = 0,
    background white = 255 — the orientation the OCR branch reads.
    Stops after `rows` lines, at EOFB, or when the data runs out on a
    row boundary. black_is_1 mirrors the PDF /BlackIs1 parm (it flips
    which DECODED bit value is ink; the coding itself is identical)."""
    br = _BitReader(data)
    out: list[np.ndarray] = []
    # reference changing elements; imaginary all-white line above row 0
    ref = [columns, columns]
    while rows is None or len(out) < rows:
        if byte_align:
            br.pos += -br.pos % 8  # /EncodedByteAlign: rows start on
            # byte boundaries (pad bits are fill)
        if br.pos >= len(br.bits):
            break
        if br.peek_str(24) == _EOFB:
            break
        try:
            cur = _decode_row(br, ref, columns)
        except ValueError:
            if rows is None and out:
                break  # padding after the last row of an unsized image
            raise
        row = np.zeros(columns, np.uint8)
        pos, color = 0, 0
        for c in cur:
            if color:
                row[pos:c] = 1
            pos, color = c, 1 - color
        out.append(row)
        ref = cur + [columns, columns]
    if not out:
        raise ValueError("empty G4 image")
    bitmap = np.stack(out)
    if black_is_1:
        bitmap = 1 - bitmap  # decoded 1-bits are WHITE under BlackIs1
    return np.where(bitmap == 1, np.uint8(0), np.uint8(255))


def _decode_row(br: _BitReader, ref: list[int], columns: int) -> list[int]:
    """One coding line → its changing-element positions (transitions),
    alternating white→black, black→white, ..."""
    cur: list[int] = []
    a0, color = -1, 0
    while a0 < columns:
        # b1: first ref change strictly right of a0 with opposite color
        # to a0's color — ref alternates white→black at even indexes,
        # so the parity of the index encodes the transition color
        i = 0 if color == 0 else 1
        while i < len(ref) and ref[i] <= a0:
            i += 2
        b1 = ref[i] if i < len(ref) else columns
        b2 = ref[i + 1] if i + 1 < len(ref) else columns

        # mode code
        if br.read():  # 1 → V0
            a1 = b1
            cur.append(min(a1, columns))
            a0, color = a1, 1 - color
            continue
        c2 = br.read()
        c3 = br.read()
        if c2 == 1:  # 01x
            a1 = b1 + (1 if c3 else -1)  # 011 VR1 / 010 VL1
            cur.append(min(max(a1, 0), columns))
            a0, color = a1, 1 - color
            continue
        if c3 == 1:  # 001 → horizontal: two MH runs
            start = 0 if a0 < 0 else a0
            r1 = _read_run(br, color)
            r2 = _read_run(br, 1 - color)
            a1 = start + r1
            a2 = a1 + r2
            cur.append(min(a1, columns))
            cur.append(min(a2, columns))
            a0 = a2
            continue
        c4 = br.read()
        if c4 == 1:  # 0001 → pass: run extends through b2
            a0 = b2
            continue
        c5 = br.read()
        c6 = br.read()
        if c5 == 1:
            a1 = b1 + (2 if c6 else -2)  # 000011 VR2 / 000010 VL2
        else:
            if c6 == 0:
                raise ValueError("EOL/unsupported mode code in G4 data")
            c7 = br.read()
            a1 = b1 + (3 if c7 else -3)  # 0000011 VR3 / 0000010 VL3
        cur.append(min(max(a1, 0), columns))
        a0, color = a1, 1 - color
    return cur


# ------------------------------------------------- G3 (T.4) decoding

_EOL = "000000000001"


def _try_skip_eol(br: _BitReader) -> bool:
    """Consume one EOL (11+ zeros then a 1 — fill bits allowed) if the
    stream is positioned at one; returns whether it did."""
    look = br.peek_str(64)
    i = 0
    while i < len(look) and look[i] == "0":
        i += 1
    if i >= 11 and i < len(look) and look[i] == "1":
        br.pos += i + 1
        return True
    return False


def _decode_row_1d(br: _BitReader, columns: int) -> list[int]:
    """One T.4 1-D (MH) coding line → changing-element positions."""
    cur: list[int] = []
    pos, color = 0, 0
    while pos < columns:
        pos += _read_run(br, color)
        cur.append(min(pos, columns))
        color ^= 1
    return cur


def g3_decode(data: bytes, columns: int, rows: int | None = None,
              black_is_1: bool = False, k: int = 0,
              byte_align: bool = False) -> np.ndarray:
    """CCITT Group 3 bytes → uint8 grayscale, same output contract as
    g4_decode. k = 0: pure one-dimensional MH lines (the PDF /K 0
    default — EOLs optional, tolerated with fill bits). k > 0: mixed
    mode — each line carries a 1-D/2-D tag bit after its EOL; 2-D
    lines decode with the T.6 mode machinery against the previous
    line."""
    br = _BitReader(data)
    out: list[np.ndarray] = []
    ref = [columns, columns]
    while rows is None or len(out) < rows:
        if byte_align:
            br.pos += -br.pos % 8
        if br.pos >= len(br.bits):
            break
        saw_eol = _try_skip_eol(br)
        if br.pos >= len(br.bits):
            break
        try:
            if k > 0:
                if not saw_eol:
                    raise ValueError("mixed-mode G3 line without EOL")
                two_d = br.read() == 0  # tag bit: 1 = 1-D, 0 = 2-D
                cur = (_decode_row(br, ref, columns) if two_d
                       else _decode_row_1d(br, columns))
            else:
                cur = _decode_row_1d(br, columns)
        except ValueError:
            if rows is None and out:
                break  # trailing fill/RTC after the last line
            raise
        row = np.zeros(columns, np.uint8)
        pos, color = 0, 0
        for c in cur:
            if color:
                row[pos:c] = 1
            pos, color = c, 1 - color
        out.append(row)
        ref = cur + [columns, columns]
    if not out:
        raise ValueError("empty G3 image")
    bitmap = np.stack(out)
    if black_is_1:
        bitmap = 1 - bitmap
    return np.where(bitmap == 1, np.uint8(0), np.uint8(255))


def ccitt_decode(data: bytes, k: int, columns: int,
                 rows: int | None = None,
                 black_is_1: bool = False,
                 byte_align: bool = False) -> np.ndarray:
    """PDF /CCITTFaxDecode dispatch on /K: < 0 → G4 (T.6), 0 → G3
    1-D, > 0 → G3 mixed; byte_align = /EncodedByteAlign (rows start
    on byte boundaries)."""
    if k < 0:
        return g4_decode(data, columns, rows, black_is_1, byte_align)
    return g3_decode(data, columns, rows, black_is_1, k, byte_align)


# ------------------------------------------------------------ encoder

def _changes(row: np.ndarray) -> list[int]:
    d = np.flatnonzero(np.diff(np.concatenate(([0], row))))
    return d.tolist()


def _run_bits(run: int, color: int) -> str:
    term = _BLACK_TERM if color else _WHITE_TERM
    makeup = _BLACK_MAKEUP if color else _WHITE_MAKEUP
    out = []
    while run >= 2560 + 63:
        out.append(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 64:
        big = (run // 64) * 64
        if big > 1728:
            out.append(_EXT_MAKEUP[big])
        else:
            out.append(makeup[big])
        run -= big
    out.append(term[run])
    return "".join(out)


def _row_runs_bits(row: np.ndarray, w: int) -> str:
    """One bitmap row → its 1-D MH code string (white run first)."""
    changes = _changes(row) + [w]
    bits = []
    pos, color = 0, 0
    for c in changes:
        if c > w:
            break
        bits.append(_run_bits(c - pos, color))
        pos, color = c, 1 - color
        if pos >= w:
            break
    if pos < w:
        bits.append(_run_bits(w - pos, color))
    return "".join(bits)


def g3_encode(img: np.ndarray, black_is_1: bool = False,
              k: int = 0, eol: bool = False,
              byte_align: bool = False) -> bytes:
    """G3 encoder matching g3_decode. k = 0: 1-D MH lines (EOL
    prefixes optional via eol=True); k > 0: mixed mode with an EOL +
    tag bit per line, alternating 1-D and 2-D lines (2-D lines reuse
    the T.6 mode coder against the previous line)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("g3_encode wants a 2-D uint8 grayscale array")
    bitmap = (img < 128).astype(np.uint8)
    if black_is_1:
        bitmap = 1 - bitmap
    h, w = bitmap.shape
    bits: list[str] = []
    nbits = 0
    prev: np.ndarray | None = None
    for y in range(h):
        if byte_align and nbits % 8:
            pad = -nbits % 8
            bits.append("0" * pad)
        if k > 0:
            use_2d = (y % 2 == 1)  # alternate; first line must be 1-D
            bits.append(_EOL + ("0" if use_2d else "1"))
            if use_2d:
                bits.append(_encode_row_2d(bitmap[y], prev, w))
            else:
                bits.append(_row_runs_bits(bitmap[y], w))
        else:
            if eol:
                bits.append(_EOL)
            bits.append(_row_runs_bits(bitmap[y], w))
        prev = bitmap[y]
        nbits = sum(len(b) for b in bits)
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    return np.packbits(
        np.frombuffer(s.encode("ascii"), np.uint8) - ord("0")).tobytes()


def _encode_row_2d(row: np.ndarray, prev: np.ndarray | None,
                   w: int) -> str:
    """One 2-D-coded line against its reference (T.6 mode coder,
    shared by g4_encode's per-row loop)."""
    ref = (_changes(prev) if prev is not None else []) + [w, w]
    cur = _changes(row) + [w, w]
    bits: list[str] = []
    a0, color = -1, 0
    ci = 0
    while a0 < w:
        i = 0 if color == 0 else 1
        while i < len(ref) and ref[i] <= a0:
            i += 2
        b1 = ref[i] if i < len(ref) else w
        b2 = ref[i + 1] if i + 1 < len(ref) else w
        while ci < len(cur) and cur[ci] <= a0:
            ci += 1
        a1 = cur[ci] if ci < len(cur) else w
        if b2 < a1:
            bits.append("0001")
            a0 = b2
            continue
        d = a1 - b1
        if -3 <= d <= 3:
            bits.append({0: "1", 1: "011", -1: "010", 2: "000011",
                         -2: "000010", 3: "0000011", -3: "0000010"}[d])
            a0, color = a1, 1 - color
            continue
        a2 = cur[ci + 1] if ci + 1 < len(cur) else w
        start = 0 if a0 < 0 else a0
        bits.append("001")
        bits.append(_run_bits(a1 - start, color))
        bits.append(_run_bits(a2 - a1, 1 - color))
        a0 = a2
    return "".join(bits)


def g4_encode(img: np.ndarray, black_is_1: bool = False,
              byte_align: bool = False) -> bytes:
    """uint8 GRAYSCALE (ink black=0, threshold 128) → G4 bytes with a
    trailing EOFB. Inverse of g4_decode for any input (roundtrip-pinned
    in tests)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("g4_encode wants a 2-D uint8 grayscale array")
    bitmap = (img < 128).astype(np.uint8)
    if black_is_1:
        bitmap = 1 - bitmap
    h, w = bitmap.shape
    bits: list[str] = []
    nbits = 0
    ref = [w, w]
    for y in range(h):
        if byte_align and nbits % 8:
            pad = -nbits % 8
            bits.append("0" * pad)
            nbits += pad
        cur = _changes(bitmap[y]) + [w, w]
        a0, color = -1, 0
        ci = 0  # index of next coding change >= current position
        while a0 < w:
            i = 0 if color == 0 else 1
            while i < len(ref) and ref[i] <= a0:
                i += 2
            b1 = ref[i] if i < len(ref) else w
            b2 = ref[i + 1] if i + 1 < len(ref) else w
            while ci < len(cur) and cur[ci] <= a0:
                ci += 1
            a1 = cur[ci] if ci < len(cur) else w
            if b2 < a1:  # pass
                bits.append("0001")
                a0 = b2
                continue
            d = a1 - b1
            if -3 <= d <= 3:  # vertical
                bits.append({0: "1", 1: "011", -1: "010", 2: "000011",
                             -2: "000010", 3: "0000011",
                             -3: "0000010"}[d])
                a0, color = a1, 1 - color
                continue
            # horizontal: two runs from max(a0, 0)
            a2 = cur[ci + 1] if ci + 1 < len(cur) else w
            start = 0 if a0 < 0 else a0
            bits.append("001")
            bits.append(_run_bits(a1 - start, color))
            bits.append(_run_bits(a2 - a1, 1 - color))
            a0 = a2
        ref = _changes(bitmap[y]) + [w, w]
        nbits = sum(len(b) for b in bits)
    bits.append(_EOFB)
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    return np.packbits(
        np.frombuffer(s.encode("ascii"), np.uint8) - ord("0")).tobytes()
