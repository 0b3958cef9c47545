"""JBIG2 (ITU-T T.88) generic-region codec — from scratch, stdlib+numpy.

Scanned-document PDFs carry two bilevel encodings in practice: CCITT
G4 (synth/ccittcodec.py) and JBIG2. This implements the JBIG2 subset
scanned pages need on the DECODE side — the embedded-stream segment
organization PDF's /JBIG2Decode uses (no file header), page
information segments, immediate (lossless) generic regions (MQ coder,
templates 0-3, TPGDON, AT pixels; MMR via the T.6 codec), AND the
symbol-coded path text pages actually ship: arithmetic symbol
dictionaries + text regions (Annex A integer decoding procedures,
height classes, strip placement) — plus matching encoders for fixture
generation. Three further modes decode, each with a fixture in the
`extract_pdf_scanned` golden: Huffman-coded symbol dictionaries and
text regions (synth/jbig2huff.py, custom tables and B.1-B.6),
refinement coding (generic refinement regions, refined text-region
instances and single-instance SDREFAGG symbols, all through
_refine_code) and halftone regions over pattern dictionaries
(decode_halftone_region). The declared seams that still raise, so
the caller quarantines: Huffman standard-table selections B.7-B.15,
Huffman SDREFAGG symbol dictionaries (they hardcode Table B.15),
arithmetic SDREFAGG with REFAGGNINST > 1, HENABLESKIP with HMMR, and
any other segment type.

Correctness strategy mirrors ccittcodec.py: the encoder and decoder
are independent walks of the published algorithm; tests pin (a) the
47-state MQ probability table structurally (spot values from T.88
Table E.1, Qe monotone envelope, index ranges), (b) MQ
encode→decode roundtrips over adversarial bit/context sequences
(incl. 0xFF-stuffing paths), and (c) generic-region roundtrips across
templates, TPGDON, AT-pixel placements, and sizes. The MQ coder keeps
its adaptive state (icx, mps) in Python lists and reads Table E.1 as
tuples. Generic-region contexts (templates 0-3) come from rolling
per-row bit windows with the AT pixels read explicitly
(_generic_code, shared by the generic region, symbol dictionary and
halftone paths, encode and decode), in the spec-figure bit layout the
committed fixtures were coded with. No external JBIG2
oracle ships in this container, so cross-implementation interop rests
on following the spec's context layouts literally (6.2.5.7 figures);
that residual risk is documented here rather than hidden.
"""

from __future__ import annotations

import struct

import numpy as np

# ------------------------------------------------ MQ coder (Annex E)
# (Qe, NMPS, NLPS, SWITCH) — T.88 Table E.1 (same table as JPEG2000).
_QE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)


def _check_region_dims(rw: int, rh: int) -> None:
    """Allocation bomb guard: a crafted region header (2^31 dims)
    must quarantine the document, never OOM the executor."""
    if rw <= 0 or rh <= 0 or rw * rh > 1_000_000_000:
        raise ValueError("implausible JBIG2 region dimensions")


def _check_page_alloc(h: int, w: int) -> None:
    """Same bomb guard for PAGE buffer allocations: region dims are
    bounded by _check_region_dims, but the page a region grows/creates
    is (ry+rh, rx+rw)-sized and the 32-bit offsets are otherwise
    unbounded — a crafted ry near 2^32 must quarantine, not OOM."""
    if h * w > 1_000_000_000:
        raise ValueError("implausible JBIG2 page dimensions")


class MQDecoder:
    """T.88 Annex E software-conventions MQ decoder. Context state
    (index, MPS) lives in caller-supplied Python lists so one decoder
    serves the whole region; registers live in locals for the
    duration of one decode."""

    def __init__(self, data: bytes):
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        d, bp = self.data, self.bp
        b = d[bp] if bp < len(d) else 0xFF
        if b == 0xFF:
            b1 = d[bp + 1] if bp + 1 < len(d) else 0xFF
            if b1 > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp += 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp += 1
            b1 = d[self.bp] if self.bp < len(d) else 0xFF
            self.c += b1 << 8
            self.ct = 8

    def decode(self, icx: list[int], mps: list[int], cx: int) -> int:
        qe, nmps, nlps, switch = _QE[icx[cx]]
        a = self.a - qe
        c = self.c
        if c >> 16 < qe:  # C stays below 2^32, so C >> 16 is Chigh
            if a < qe:  # conditional MPS/LPS exchange
                d = mps[cx]
                icx[cx] = nmps
            else:
                d = 1 - mps[cx]
                if switch:
                    mps[cx] = d
                icx[cx] = nlps
            a = qe
        else:
            c -= qe << 16
            if a & 0x8000:
                self.a, self.c = a, c
                return mps[cx]
            if a < qe:
                d = 1 - mps[cx]
                if switch:
                    mps[cx] = d
                icx[cx] = nlps
            else:
                d = mps[cx]
                icx[cx] = nmps
        ct = self.ct
        while True:  # RENORMD
            if ct == 0:
                self.c = c
                self._bytein()
                c, ct = self.c, self.ct
            a = (a << 1) & 0xFFFF
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
            if a & 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct
        return d


class MQEncoder:
    """T.88 Annex E MQ encoder (matching MQDecoder; roundtrip-pinned)."""

    def __init__(self):
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        # spec INITENC: BP = BPST - 1 — buffer[0] is the dummy
        # pre-byte that absorbs a leading carry; dropped at flush if
        # it stayed 0
        self.b: list[int] = [0]

    def _byteout(self) -> None:
        if self.b[-1] == 0xFF:
            self.b.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
            return
        if self.c >= 0x8000000:
            self.b[-1] += 1  # propagate carry into the last byte
            self.c &= 0x7FFFFFF
            if self.b[-1] == 0xFF:
                self.b.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
                return
        self.b.append((self.c >> 19) & 0xFF)
        self.c &= 0x7FFFF
        self.ct = 8

    def encode(self, icx: list[int], mps: list[int], cx: int,
               d: int) -> None:
        qe, nmps, nlps, switch = _QE[icx[cx]]
        a = self.a - qe
        if d == mps[cx]:  # CODEMPS
            if a & 0x8000:
                self.a = a
                self.c += qe
                return
            if a < qe:
                a = qe
            else:
                self.c += qe
            icx[cx] = nmps
        else:  # CODELPS
            if a < qe:
                self.c += qe
            else:
                a = qe
            if switch:
                mps[cx] = 1 - mps[cx]
            icx[cx] = nlps
        while True:  # RENORME
            if self.ct == 0:
                self._byteout()
            a = (a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if a & 0x8000:
                break
        self.a = a

    def flush(self) -> bytes:
        # SETBITS: drive the low 16 code bits to ONES — the decoder
        # pads past-the-end input with 1-bits, so the final code value
        # must look like that padding; clamp back into [C, C+A) when
        # the ones overshoot the interval top
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        body = list(self.b[1:] if self.b[0] == 0 else self.b)
        # spec FLUSH tail: ensure the stream ends FF AC — a final DATA
        # byte of 0xFF doubles as the marker prefix (it still carries
        # flushed code bits; never strip it)
        if not body or body[-1] != 0xFF:
            body.append(0xFF)
        body.append(0xAC)
        return bytes(body)


# ------------------------------- generic region coding (spec 6.2.5)

# nominal AT pixel placements per template (dx, dy)
_NOMINAL_AT = {
    0: [(3, -1), (-3, -1), (2, -2), (-2, -2)],
    1: [(3, -1)],
    2: [(2, -1)],
    3: [(2, -1)],
}
# TPGDON pseudo-pixel contexts per template (spec 6.2.5.7)
_TPGDON_CTX = {0: 0x9B25, 1: 0x0795, 2: 0x00E5, 3: 0x0195}
_CTX_BITS = {0: 16, 1: 13, 2: 10, 3: 10}


# Rolling context windows for the nominal template pixels (6.2.5.7,
# figures 3-6). Per template: the current row's window width (pixel
# x-1 in context bit 0, x-2 in bit 1, ...); (dy, rightmost dx, width,
# lowest context bit) for each row above, its rightmost pixel in the
# lowest bit; and the context bit of each AT pixel in order. Template 3
# has no row -2: its zero-width window always reads 0.
_WINDOWS = {
    0: (4, ((-1, 2, 5, 5), (-2, 1, 3, 12)), (4, 10, 11, 15)),
    1: (3, ((-1, 2, 5, 4), (-2, 2, 4, 9)), (3,)),
    2: (2, ((-1, 1, 4, 3), (-2, 1, 3, 7)), (2,)),
    3: (4, ((-1, 1, 5, 5), (-2, 0, 0, 0)), (4,)),
}


def _generic_code(mq, icx: list[int], mps: list[int], template: int,
                  at: list[tuple[int, int]], bm: np.ndarray,
                  tpgdon: bool = False,
                  skip: np.ndarray | None = None) -> None:
    """Code one generic region's pixels (6.2.5.7) on the caller's MQ
    coder and context lists: an MQDecoder decodes into `bm` (HxW
    uint8, zeroed), an MQEncoder encodes `bm`. The context of each
    pixel is built from rolling per-row bit windows plus explicit
    reads of the AT pixels; pixels outside the region read 0. `skip`
    marks pixels that are never coded (they read and stay 0; the
    encoder's caller zeroes them in `bm`)."""
    h, w = bm.shape
    encode = isinstance(mq, MQEncoder)
    code = mq.encode if encode else mq.decode
    n0, ((dy1, dx1, n1, b1), (dy2, dx2, n2, b2)), at_bits = \
        _WINDOWS[template]
    m0, m1, m2 = (1 << n0) - 1, (1 << n1) - 1, (1 << n2) - 1
    pad = max([4] + [abs(dx) for dx, _ in at])
    zero = [0] * (w + 2 * pad)
    src = [[0] * pad + r + [0] * pad for r in bm.tolist()] \
        if encode else None
    skips = skip.tolist() if skip is not None else None
    rows: list[list[int]] = []  # coded rows, `pad` zeros each side
    tp_ctx = _TPGDON_CTX[template]
    ltp = 0
    for y in range(h):
        cur = src[y] if encode else [0] * (w + 2 * pad)
        if tpgdon:
            if encode:
                same = int(y > 0 and cur == src[y - 1])
                code(icx, mps, tp_ctx, ltp ^ same)
                ltp = same
            else:
                ltp ^= code(icx, mps, tp_ctx)
            if ltp:  # typical row: a copy of the one above
                if y:
                    rows.append(rows[-1])
                    if not encode:
                        bm[y] = bm[y - 1]
                else:
                    rows.append(zero)
                continue
        r1 = rows[y + dy1] if y + dy1 >= 0 else zero
        r2 = rows[y + dy2] if y + dy2 >= 0 else zero
        o1, o2 = pad + dx1, pad + dx2
        w1 = w2 = 0
        for j in range(o1 - n1 + 1, o1):
            w1 = (w1 << 1) | r1[j]
        for j in range(o2 - n2 + 1, o2):
            w2 = (w2 << 1) | r2[j]
        ats = [(cur if dy == 0 else rows[y + dy] if 0 <= y + dy < y
                else zero, pad + dx, bit)
               for (dx, dy), bit in zip(at, at_bits)]
        srow = skips[y] if skips is not None else None
        w0 = 0
        for x in range(w):
            w1 = ((w1 << 1) | r1[x + o1]) & m1
            w2 = ((w2 << 1) | r2[x + o2]) & m2
            cx = w0 | w1 << b1 | w2 << b2
            for r, o, bit in ats:
                cx |= r[x + o] << bit
            if srow is not None and srow[x]:
                v = 0
            elif encode:
                v = cur[x + pad]
                code(icx, mps, cx, v)
            else:
                v = cur[x + pad] = code(icx, mps, cx)
            w0 = ((w0 << 1) | v) & m0
        rows.append(cur)
        if not encode:
            bm[y] = cur[pad:pad + w]


def generic_region_decode(data: bytes, w: int, h: int,
                          template: int = 0, tpgdon: bool = False,
                          at: list[tuple[int, int]] | None = None
                          ) -> np.ndarray:
    """MQ-coded generic region → {0,1} bitmap (1 = black), spec
    6.2.5.7 per-pixel path (no skip bitmap, no refinement)."""
    at = at or _NOMINAL_AT[template]
    n_ctx = 1 << _CTX_BITS[template]
    bm = np.zeros((h, w), np.uint8)
    _generic_code(MQDecoder(data), [0] * n_ctx, [0] * n_ctx, template,
                  at, bm, tpgdon)
    return bm


def generic_region_encode(bm: np.ndarray, template: int = 0,
                          tpgdon: bool = False,
                          at: list[tuple[int, int]] | None = None
                          ) -> bytes:
    """{0,1} bitmap → MQ-coded generic region (inverse of
    generic_region_decode; the shared _generic_code walk ⇒ roundtrip
    by construction)."""
    at = at or _NOMINAL_AT[template]
    n_ctx = 1 << _CTX_BITS[template]
    enc = MQEncoder()
    _generic_code(enc, [0] * n_ctx, [0] * n_ctx, template, at, bm,
                  tpgdon)
    return enc.flush()


# ------------------------ generic REFINEMENT region (spec 6.3)

# context pixel layouts (coding = current bitmap, reference = the
# bitmap being refined against); GRTEMPLATE 0 additionally appends
# AT1 to the coding list and AT2 to the reference list. Context label
# = coding bits then reference bits, MSB-first in listing order.
_REF_CODING = [
    [(0, -1), (1, -1), (-1, 0)],
    [(-1, -1), (0, -1), (1, -1), (-1, 0)],
]
_REF_REFERENCE = [
    [(0, -1), (1, -1), (-1, 0), (0, 0), (1, 0), (-1, 1), (0, 1),
     (1, 1)],
    [(0, -1), (-1, 0), (0, 0), (1, 0), (0, 1), (1, 1)],
]
_REF_NOMINAL_AT = [(-1, -1), (-1, -1)]


def _ref_layout(template: int, at: list[tuple[int, int]]):
    """→ ((coding, reference), n_bits): (tx, ty, bit) per context
    pixel of the current bitmap and of the reference, `bit` its place
    in the context label (coding then reference, MSB first in listing
    order)."""
    coding = list(_REF_CODING[template])
    reference = list(_REF_REFERENCE[template])
    if template == 0:
        coding.append(tuple(at[0]))
        reference.append(tuple(at[1]))
    n_bits = len(coding) + len(reference)
    bits = iter(range(n_bits - 1, -1, -1))
    layout = ([(tx, ty, next(bits)) for tx, ty in coding],
              [(tx, ty, next(bits)) for tx, ty in reference])
    return layout, n_bits


#: SLTP contexts for refinement typical prediction (T.88 6.3.5.6):
#: the fixed context value the LTP toggle bit is coded with
_TPGRON_SLTP_CTX = {0: 0x0100, 1: 0x0080}


def _shifted(rows: list[list[int]], y: int, shift: int,
             n: int) -> list[int]:
    """Row y of `rows` re-indexed so out[k] = rows[y][k + shift] for
    k < n, 0 outside the bitmap (never allocates more than n)."""
    if not 0 <= y < len(rows):
        return [0] * n
    row = rows[y]
    lo, hi = max(0, -shift), min(n, len(row) - shift)
    if lo >= hi:
        return [0] * n
    return [0] * lo + row[lo + shift:hi + shift] + [0] * (n - hi)


def _refine_code(mq, icx: list[int], mps: list[int], layout,
                 bm: np.ndarray, ref: np.ndarray, dx: int, dy: int,
                 tpgron: bool = False, sltp_ctx: int = 0x0100) -> None:
    """Code one refinement region's pixels (6.3.5) against `ref` on
    the caller's MQ coder and contexts — the form symbol-dict REFAGG
    and text-region REFINE use (one arithmetic stream shared with the
    integer procedures): an MQDecoder decodes into `bm` (HxW uint8,
    zeroed), an MQEncoder encodes `bm`. Each context pixel is read
    from a Python row list — reference rows shifted once per row to
    line up with x — so pixels outside either bitmap read 0 without a
    bounds test. tpgron enables typical prediction (6.3.5.6): a
    per-row LTP toggle bit; in LTP rows, pixels whose 3×3 reference
    neighbourhood is uniform take that value uncoded (the encoder
    turns LTP on only when every such pixel in the row really equals
    it — lossless by construction, with real row-to-row toggles)."""
    h, w = bm.shape
    encode = isinstance(mq, MQEncoder)
    code = mq.encode if encode else mq.decode
    coding, reference = layout
    pad = max(abs(tx) for tx, _, _ in coding)
    zero = [0] * (w + 2 * pad)
    src = [[0] * pad + r + [0] * pad for r in bm.tolist()] \
        if encode else None
    refrows = ref.tolist()
    rows: list[list[int]] = []  # coded rows, `pad` zeros each side
    ltp = 0
    for y in range(h):
        cur = src[y] if encode else [0] * (w + 2 * pad)
        spots = [(cur if ty == 0 else rows[y + ty] if 0 <= y + ty < y
                  else zero, pad + tx, bit) for tx, ty, bit in coding]
        spots += [(_shifted(refrows, y - dy + ty, tx - dx, w), 0, bit)
                  for tx, ty, bit in reference]
        typical = None
        if tpgron:
            # 3×3 reference sums: 0 → typical 0, 9 → typical 1
            cols = [a + b + c for a, b, c in zip(
                *(_shifted(refrows, y - dy + k, -dx - 1, w + 2)
                  for k in (-1, 0, 1)))]
            sums = [a + b + c for a, b, c in zip(cols, cols[1:],
                                                  cols[2:])]
            typical = [0 if t == 0 else 1 if t == 9 else None
                       for t in sums]
            if encode:
                want = int(all(tv is None or tv == v for tv, v in
                               zip(typical, cur[pad:pad + w])))
                code(icx, mps, sltp_ctx, ltp ^ want)
                ltp = want
            else:
                ltp ^= code(icx, mps, sltp_ctx)
        for x in range(w):
            if ltp and typical[x] is not None:
                cur[x + pad] = typical[x]
                continue
            cx = 0
            for r, o, bit in spots:
                cx |= r[x + o] << bit
            if encode:
                code(icx, mps, cx, cur[x + pad])
            else:
                cur[x + pad] = code(icx, mps, cx)
        rows.append(cur)
        if not encode:
            bm[y] = cur[pad:pad + w]


def refinement_region_decode(data: bytes, w: int, h: int,
                             ref: np.ndarray, template: int = 0,
                             dx: int = 0, dy: int = 0,
                             at: list[tuple[int, int]] | None = None,
                             tpgron: bool = False) -> np.ndarray:
    """MQ-coded generic refinement region → {0,1} bitmap, decoded
    against a reference bitmap (spec 6.3.5; tpgron=True enables the
    6.3.5.6 typical-prediction row path)."""
    at = at or _REF_NOMINAL_AT
    layout, n_bits = _ref_layout(template, at)
    icx = [0] * (1 << n_bits)
    mps = [0] * (1 << n_bits)
    bm = np.zeros((h, w), np.uint8)
    _refine_code(MQDecoder(data), icx, mps, layout, bm, ref, dx, dy,
                 tpgron=tpgron, sltp_ctx=_TPGRON_SLTP_CTX[template])
    return bm


def refinement_region_encode(bm: np.ndarray, ref: np.ndarray,
                             template: int = 0, dx: int = 0,
                             dy: int = 0,
                             at: list[tuple[int, int]] | None = None,
                             tpgron: bool = False) -> bytes:
    """Inverse of refinement_region_decode (the shared _refine_code
    walk ⇒ roundtrip by construction). Compression is high exactly when bm is
    mostly equal to ref — the refinement use case."""
    at = at or _REF_NOMINAL_AT
    layout, n_bits = _ref_layout(template, at)
    icx = [0] * (1 << n_bits)
    mps = [0] * (1 << n_bits)
    enc = MQEncoder()
    _refine_code(enc, icx, mps, layout, bm, ref, dx, dy, tpgron=tpgron,
                 sltp_ctx=_TPGRON_SLTP_CTX[template])
    return enc.flush()


# ------------------------ halftone regions (spec 6.6) + pattern dicts

def _halftone_pattern_at(hdpw: int) -> list[tuple[int, int]]:
    # nominal AT for pattern-dictionary collective bitmaps (6.7.5)
    return [(-hdpw, 0), (-3, -1), (2, -2), (-2, -2)]


def _halftone_gray_at(template: int) -> list[tuple[int, int]]:
    # nominal AT for halftone grayscale planes (6.6.5.1)
    return [(3 if template <= 1 else 2, -1), (-3, -1), (2, -2),
            (-2, -2)]


def decode_pattern_dict(payload: bytes) -> list[np.ndarray]:
    """Type-16 pattern dictionary → list of HDPH×HDPW {0,1} patterns
    (one collective generic-coded bitmap, split at HDPW strides)."""
    if len(payload) < 7:
        raise ValueError("short pattern dictionary segment")
    flags, hdpw, hdph = payload[0], payload[1], payload[2]
    graymax = struct.unpack_from(">I", payload, 3)[0]
    mmr = flags & 1
    template = (flags >> 1) & 3
    if graymax > 255:
        raise ValueError("implausible GRAYMAX")
    cw = (graymax + 1) * hdpw
    if mmr:
        from .ccittcodec import g4_decode
        gray = g4_decode(payload[7:], cw, hdph)
        coll = (gray == 0).astype(np.uint8)
    else:
        coll = generic_region_decode(payload[7:], cw, hdph, template,
                                     False, _halftone_pattern_at(hdpw))
    return [coll[:, i * hdpw:(i + 1) * hdpw].copy()
            for i in range(graymax + 1)]


def encode_pattern_dict(patterns: list[np.ndarray],
                        template: int = 0) -> bytes:
    """Inverse of decode_pattern_dict ({0,1} patterns, equal shape)."""
    hdph, hdpw = patterns[0].shape
    coll = np.concatenate(patterns, axis=1)
    body = generic_region_encode(coll, template, False,
                                 _halftone_pattern_at(hdpw))
    return (bytes([(template & 3) << 1, hdpw, hdph])
            + struct.pack(">I", len(patterns) - 1) + body)


def decode_halftone_region(payload: bytes, patterns: list[np.ndarray]
                           ) -> tuple[int, int, int, int, np.ndarray]:
    """Type 20/22/23 halftone region → (x, y, w, h, bitmap): Gray-coded
    bitplanes of the grayscale image decode through ONE arithmetic
    decoder (shared generic contexts), each value selects a pattern
    placed on the (possibly skewed) fixed-point grid per 6.6.5.2."""
    if len(payload) < 38:
        raise ValueError("short halftone region segment")
    rw, rh, rx, ry = struct.unpack_from(">IIII", payload, 0)
    _check_region_dims(rw, rh)
    flags = payload[17]
    mmr = flags & 1
    template = (flags >> 1) & 3
    enableskip = (flags >> 3) & 1
    defpixel = (flags >> 7) & 1
    hgw, hgh = struct.unpack_from(">II", payload, 18)
    hgx, hgy = struct.unpack_from(">ii", payload, 26)
    hrx, hry = struct.unpack_from(">HH", payload, 34)
    if not patterns:
        raise ValueError("halftone region without pattern dictionary")
    hph, hpw = patterns[0].shape
    n_bits = max((len(patterns) - 1).bit_length(), 1)
    # HENABLESKIP (6.6.5.1): grid cells whose pattern placement falls
    # entirely outside the region are never decoded (bitplane pixels
    # forced 0) — the rotated/skewed-grid optimization
    skip = None
    if enableskip:
        skip = np.zeros((hgh, hgw), np.uint8)
        for mg in range(hgh):
            for ng in range(hgw):
                x = (hgx + mg * hry + ng * hrx) >> 8
                y = (hgy + mg * hrx - ng * hry) >> 8
                if x + hpw <= 0 or x >= rw or y + hph <= 0 or y >= rh:
                    skip[mg, ng] = 1
    if enableskip and mmr:
        raise NotImplementedError(
            "JBIG2 halftone HENABLESKIP with HMMR (T.6 has no skip "
            "path)")
    gray = np.zeros((hgh, hgw), np.int64)
    prev = np.zeros((hgh, hgw), np.int64)
    if mmr:
        # C.5 with HMMR=1: ONE continuous MMR stream codes all the
        # bitplanes MSB-first with no reset between planes — decoded
        # here as a single tall T.6 image (plane j's first row
        # references plane j-1's last row, the no-reset reading); ink
        # black (g4 sample 0) is bit value 1
        from .ccittcodec import g4_decode
        tall = g4_decode(payload[38:], hgw, hgh * n_bits)
        planes_msb = [(tall[i * hgh:(i + 1) * hgh] == 0)
                      .astype(np.uint8) for i in range(n_bits)]
        for i, j in enumerate(range(n_bits - 1, -1, -1)):
            bit = planes_msb[i] ^ prev  # Gray code
            gray |= bit.astype(np.int64) << j
            prev = bit
    else:
        at = _halftone_gray_at(template)
        n_ctx = 1 << _CTX_BITS[template]
        icx = [0] * n_ctx
        mps = [0] * n_ctx
        dec = MQDecoder(payload[38:])
        for j in range(n_bits - 1, -1, -1):  # MSB first, Gray-decoded
            plane = np.zeros((hgh, hgw), np.uint8)
            # skipped pixels: 0, never decoded
            _generic_code(dec, icx, mps, template, at, plane, skip=skip)
            bit = plane ^ prev  # Gray code: b_j = plane_j XOR b_{j+1}
            gray |= bit.astype(np.int64) << j
            prev = bit
    gray = np.minimum(gray, len(patterns) - 1)
    bm = np.full((rh, rw), defpixel, np.uint8)
    for mg in range(hgh):
        for ng in range(hgw):
            x = (hgx + mg * hry + ng * hrx) >> 8
            y = (hgy + mg * hrx - ng * hry) >> 8
            pat = patterns[int(gray[mg, ng])]
            xx0, yy0 = max(x, 0), max(y, 0)
            xx1, yy1 = min(x + hpw, rw), min(y + hph, rh)
            if xx0 < xx1 and yy0 < yy1:
                bm[yy0:yy1, xx0:xx1] |= pat[yy0 - y:yy1 - y,
                                            xx0 - x:xx1 - x]
    return rx, ry, rw, rh, bm


def encode_halftone_region(w: int, h: int, gray: np.ndarray,
                           patterns: list[np.ndarray],
                           template: int = 0,
                           mmr: bool = False,
                           grid_offset: tuple[int, int] = (0, 0),
                           enableskip: bool = False) -> bytes:
    """Inverse of decode_halftone_region: axis-aligned grid with
    spacing = pattern width (the standard halftoning layout), gray
    values in [0, len(patterns)). mmr=True codes the Gray-coded
    bitplanes as one continuous T.6 stream (HMMR=1). grid_offset
    (pixels, may be negative) shifts the grid origin; enableskip sets
    HENABLESKIP so fully-out-of-region cells are never coded."""
    hph, hpw = patterns[0].shape
    hgh, hgw = gray.shape
    gx_px, gy_px = grid_offset
    hgx, hgy = gx_px << 8, gy_px << 8
    hrx, hry = hpw << 8, 0
    skip = None
    if enableskip:
        skip = np.zeros((hgh, hgw), np.uint8)
        for mg in range(hgh):
            for ng in range(hgw):
                x = (hgx + mg * hry + ng * hrx) >> 8
                y = (hgy + mg * hrx - ng * hry) >> 8
                if x + hpw <= 0 or x >= w or y + hph <= 0 or y >= h:
                    skip[mg, ng] = 1
    n_bits = max((len(patterns) - 1).bit_length(), 1)
    planes = []
    prev = np.zeros((hgh, hgw), np.int64)
    for j in range(n_bits - 1, -1, -1):
        bit = (gray.astype(np.int64) >> j) & 1
        planes.append((bit ^ prev).astype(np.uint8))
        prev = bit
    if mmr:
        if enableskip:
            raise NotImplementedError(
                "HENABLESKIP with HMMR (T.6 has no skip path)")
        from .ccittcodec import g4_encode
        tall = np.concatenate(planes, axis=0)
        body = g4_encode(np.where(tall == 1, 0, 255).astype(np.uint8))
    else:
        at = _halftone_gray_at(template)
        n_ctx = 1 << _CTX_BITS[template]
        icx = [0] * n_ctx
        mps = [0] * n_ctx
        enc = MQEncoder()
        for plane in planes:
            if skip is not None:
                plane = np.where(skip == 1, np.uint8(0), plane)
            _generic_code(enc, icx, mps, template, at, plane, skip=skip)
        body = enc.flush()
    flags = (((template & 3) << 1) | (1 if mmr else 0)
             | (8 if enableskip else 0))
    return (struct.pack(">IIII", w, h, 0, 0) + b"\x00"
            + bytes([flags])
            + struct.pack(">II", hgw, hgh)
            + struct.pack(">ii", hgx, hgy)
            + struct.pack(">HH", hrx, hry)
            + body)


def jbig2_encode_halftone(img: np.ndarray, n_levels: int = 8,
                          cell: int = 4,
                          mmr: bool = False) -> bytes:
    """uint8 grayscale page → halftone-coded embedded JBIG2: a pattern
    dictionary of ordered-dither dot cells + a halftone region whose
    grayscale image is the cell-downsampled, n_levels-quantized page.
    Lossy by construction (that's what halftoning is); the companion
    expected_halftone() renders the decoder-exact composite for
    tests."""
    patterns = make_dither_patterns(n_levels, cell)
    gray = quantize_cells(img, n_levels, cell)
    h = gray.shape[0] * cell
    w = gray.shape[1] * cell
    pd = encode_pattern_dict(patterns)
    ht = encode_halftone_region(w, h, gray, patterns, mmr=mmr)
    page_info = struct.pack(">IIII", w, h, 0, 0) + b"\x01" + b"\x00\x00"
    return (_segment_header(0, _SEG_PAGE_INFO, 1, len(page_info))
            + page_info
            + _segment_header(1, _SEG_PATTERN_DICT, 1, len(pd)) + pd
            + _segment_header(2, _SEG_IMM_LOSSLESS_HALFTONE, 1,
                              len(ht)) + ht
            + _segment_header(3, _SEG_END_OF_PAGE, 1, 0))


def make_dither_patterns(n_levels: int, cell: int) -> list[np.ndarray]:
    """Ordered-dither dot patterns: level k has k of cell² pixels set,
    filled center-out (deterministic)."""
    order = sorted(
        ((yy - (cell - 1) / 2) ** 2 + (xx - (cell - 1) / 2) ** 2,
         yy, xx)
        for yy in range(cell) for xx in range(cell))
    pats = []
    per = cell * cell / (n_levels - 1)
    for k in range(n_levels):
        pat = np.zeros((cell, cell), np.uint8)
        n_on = min(cell * cell, int(round(k * per)))
        for _, yy, xx in order[:n_on]:
            pat[yy, xx] = 1
        pats.append(pat)
    return pats


def quantize_cells(img: np.ndarray, n_levels: int,
                   cell: int) -> np.ndarray:
    """Page → per-cell darkness level in [0, n_levels): mean luminance
    of each cell×cell block, inverted (ink black = high level)."""
    h = img.shape[0] // cell * cell
    w = img.shape[1] // cell * cell
    blocks = img[:h, :w].reshape(h // cell, cell, w // cell,
                                 cell).mean(axis=(1, 3))
    dark = 255.0 - blocks
    return np.clip((dark / 255.0 * (n_levels - 1)).round(), 0,
                   n_levels - 1).astype(np.int64)


def expected_halftone(img: np.ndarray, n_levels: int = 8,
                      cell: int = 4) -> np.ndarray:
    """The exact composite the decoder must produce for
    jbig2_encode_halftone(img): patterns placed on the axis-aligned
    grid."""
    patterns = make_dither_patterns(n_levels, cell)
    gray = quantize_cells(img, n_levels, cell)
    out = np.zeros((gray.shape[0] * cell, gray.shape[1] * cell),
                   np.uint8)
    for mg in range(gray.shape[0]):
        for ng in range(gray.shape[1]):
            out[mg * cell:(mg + 1) * cell,
                ng * cell:(ng + 1) * cell] = patterns[int(gray[mg, ng])]
    return np.where(out == 1, np.uint8(0), np.uint8(255))


# --------------------------- embedded-stream segments (spec 7.2-7.4)

_SEG_PAGE_INFO = 48
_SEG_SYMBOL_DICT = 0
_SEG_IMM_TEXT = 6
_SEG_IMM_LOSSLESS_TEXT = 7
_SEG_INTERMEDIATE_TEXT = 4
_SEG_IMM_GENERIC = 38
_SEG_IMM_LOSSLESS_GENERIC = 39
_SEG_INTERMEDIATE_GENERIC = 36
_SEG_END_OF_PAGE = 49
_SEG_END_OF_STRIPE = 50
_SEG_END_OF_FILE = 51
_SEG_TABLES = 53  # custom huffman code-table segment (spec 7.4.13)
_SEG_INTERMEDIATE_REFINE = 40
_SEG_IMM_REFINE = 42
_SEG_IMM_LOSSLESS_REFINE = 43
_SEG_PATTERN_DICT = 16
_SEG_INTERMEDIATE_HALFTONE = 20
_SEG_IMM_HALFTONE = 22
_SEG_IMM_LOSSLESS_HALFTONE = 23
_HARMLESS = {_SEG_END_OF_PAGE, _SEG_END_OF_STRIPE, _SEG_END_OF_FILE}


def parse_segments(data: bytes) -> list[tuple[int, int, bytes]]:
    """Embedded-organization JBIG2 (PDF /JBIG2Decode: no file header)
    → [(type, page, payload)]. Raises ValueError on structural
    corruption and on unknown-length segments."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 11 > n:
            if out:
                break  # trailing EOL padding after the last segment
                # (PDF stream framing includes the pre-endstream EOL)
            raise ValueError("truncated JBIG2 segment header")
        segnum = struct.unpack_from(">I", data, pos)[0]
        flags = data[pos + 4]
        stype = flags & 0x3F
        page4 = bool(flags & 0x40)
        pos += 5
        rts = data[pos]
        if (rts >> 5) == 7:
            cnt = struct.unpack_from(">I", data, pos)[0] & 0x1FFFFFFF
            pos += 4 + (cnt + 8) // 8
        else:
            cnt = rts >> 5
            pos += 1
        ref_size = 1 if segnum <= 256 else (2 if segnum <= 65536 else 4)
        pos += cnt * ref_size
        if page4:
            page = struct.unpack_from(">I", data, pos)[0]
            pos += 4
        else:
            page = data[pos]
            pos += 1
        length = struct.unpack_from(">I", data, pos)[0]
        pos += 4
        if length == 0xFFFFFFFF:
            raise ValueError("JBIG2 unknown-length segment")
        if pos + length > n:
            raise ValueError("truncated JBIG2 segment payload")
        out.append((stype, page, data[pos:pos + length]))
        pos += length
    return out


def jbig2_decode_embedded(data: bytes,
                          globals_data: bytes | None = None
                          ) -> np.ndarray:
    """PDF /JBIG2Decode stream → uint8 grayscale page (ink black = 0,
    background white = 255), same output contract as the CCITT codec.

    Supports generic regions (MQ templates 0-3, TPGDON, AT pixels;
    MMR via the T.6 codec) AND the symbol-coded path real text pages
    use: arithmetic symbol dictionaries + text regions (Annex A
    integer decoding, height classes, strip placement, REFCORNER).
    Symbols accumulate across dictionary segments in order (the
    referred-segment graph is not consulted — a documented
    approximation exact for the single-dict streams PDF encoders
    emit). HUFFMAN-coded symbol dictionaries and text regions decode
    too (SDHUFF collective bitmaps, SBHUFF runcode symbol-ID tables,
    custom type-53 code tables — synth/jbig2huff.py), and so do
    generic refinement regions, pattern dictionaries and halftone
    regions; other segment types raise NotImplementedError — the
    caller quarantines (skip, text layer still flows)."""
    segs = parse_segments(data)
    if globals_data:
        segs = parse_segments(globals_data) + segs
    page_w = page_h = None
    page: np.ndarray | None = None
    symbols: list[np.ndarray] = []  # exported by dicts, in order
    patterns: list[np.ndarray] = []  # last pattern dictionary
    # custom code tables accumulate in stream order; huffman consumers
    # take them in selection-slot order (order-of-reference
    # approximation, same discipline as the symbol accumulation above)
    custom_tables: list = []
    for stype, _pg, payload in segs:
        if stype == _SEG_PAGE_INFO:
            if len(payload) < 19:
                raise ValueError("short page info segment")
            page_w, page_h = struct.unpack_from(">II", payload, 0)
            if page_h == 0xFFFFFFFF:
                page_h = None  # striped page: grows with regions
            # bomb-guard only CONCRETE dimensions: a striped page's
            # height is unknown here and its growth is bounded by
            # _check_region_dims per region (guarding the sentinel
            # value used to quarantine any striped page wider than
            # ~953 px — r6 ADVICE)
            if page_h is not None and page_w * page_h > 1_000_000_000:
                raise ValueError("implausible JBIG2 page dimensions")
            default = (payload[16] >> 2) & 1
            page = np.full((page_h or 0, page_w), default, np.uint8)
        elif stype in (_SEG_IMM_GENERIC, _SEG_IMM_LOSSLESS_GENERIC,
                       _SEG_INTERMEDIATE_GENERIC):
            if len(payload) < 18:
                raise ValueError("short generic region segment")
            rw, rh, rx, ry = struct.unpack_from(">IIII", payload, 0)
            _check_region_dims(rw, rh)
            flags = payload[17]
            mmr = flags & 1
            template = (flags >> 1) & 3
            tpgdon = bool(flags & 8)
            pos = 18
            at = None
            if not mmr:
                n_at = 4 if template == 0 else 1
                at = []
                for _ in range(n_at):
                    dx, dy = struct.unpack_from(">bb", payload, pos)
                    at.append((dx, dy))
                    pos += 2
            body = payload[pos:]
            if mmr:
                from .ccittcodec import g4_decode
                gray = g4_decode(body, rw, rh)
                bm = (gray == 0).astype(np.uint8)
            else:
                bm = generic_region_decode(body, rw, rh, template,
                                           tpgdon, at)
            if page is None:
                page_w, page_h = rx + rw, ry + rh
                _check_page_alloc(page_h, page_w)
                page = np.zeros((page_h, page_w), np.uint8)
            if page.shape[0] < ry + rh:  # striped page grows
                _check_page_alloc(ry + rh, page.shape[1])
                grown = np.zeros((ry + rh, page.shape[1]), np.uint8)
                grown[: page.shape[0]] = page
                page = grown
            page[ry:ry + rh, rx:rx + rw] |= bm
        elif stype in (_SEG_IMM_REFINE, _SEG_IMM_LOSSLESS_REFINE,
                       _SEG_INTERMEDIATE_REFINE):
            # generic refinement region (spec 7.4.7): refines against
            # the page's current content at the region, REPLACE comb
            if len(payload) < 18:
                raise ValueError("short refinement region segment")
            rw, rh, rx, ry = struct.unpack_from(">IIII", payload, 0)
            _check_region_dims(rw, rh)
            rflags = payload[17]
            rtemplate = rflags & 1
            rtpgron = bool(rflags & 2)
            pos = 18
            rat = None
            if rtemplate == 0:
                rat = []
                for _ in range(2):
                    adx, ady = struct.unpack_from(">bb", payload, pos)
                    rat.append((adx, ady))
                    pos += 2
            if page is None or page.shape[0] < ry + rh \
                    or page.shape[1] < rx + rw:
                raise ValueError(
                    "refinement region outside the decoded page")
            ref = page[ry:ry + rh, rx:rx + rw]
            bm = refinement_region_decode(payload[pos:], rw, rh, ref,
                                          rtemplate, at=rat,
                                          tpgron=rtpgron)
            page[ry:ry + rh, rx:rx + rw] = bm
        elif stype == _SEG_PATTERN_DICT:
            patterns = decode_pattern_dict(payload)
        elif stype in (_SEG_IMM_HALFTONE, _SEG_IMM_LOSSLESS_HALFTONE,
                       _SEG_INTERMEDIATE_HALFTONE):
            rx, ry, rw, rh, bm = decode_halftone_region(payload,
                                                        patterns)
            if page is None:
                page_w, page_h = rx + rw, ry + rh
                _check_page_alloc(page_h, page_w)
                page = np.zeros((page_h, page_w), np.uint8)
            if page.shape[0] < ry + rh:
                _check_page_alloc(ry + rh, page.shape[1])
                grown = np.zeros((ry + rh, page.shape[1]), np.uint8)
                grown[: page.shape[0]] = page
                page = grown
            page[ry:ry + rh, rx:rx + rw] |= bm
        elif stype == _SEG_TABLES:
            from .jbig2huff import parse_code_table
            custom_tables.append(parse_code_table(payload))
        elif stype == _SEG_SYMBOL_DICT:
            if (len(payload) >= 2
                    and struct.unpack_from(">H", payload, 0)[0] & 1):
                from .jbig2huff import decode_huffman_symbol_dict
                symbols.extend(decode_huffman_symbol_dict(
                    payload, custom_tables))
            else:
                symbols.extend(_decode_symbol_dict(payload, symbols))
        elif stype in (_SEG_IMM_TEXT, _SEG_IMM_LOSSLESS_TEXT,
                       _SEG_INTERMEDIATE_TEXT):
            if (len(payload) >= 19
                    and struct.unpack_from(">H", payload, 17)[0] & 1):
                from .jbig2huff import decode_huffman_text_region
                rx, ry, rw, rh, bm = decode_huffman_text_region(
                    payload, symbols, custom_tables)
            else:
                rx, ry, rw, rh, bm = _decode_text_region(payload,
                                                         symbols)
            if page is None:
                page_w, page_h = rx + rw, ry + rh
                _check_page_alloc(page_h, page_w)
                page = np.zeros((page_h, page_w), np.uint8)
            if page.shape[0] < ry + rh:
                _check_page_alloc(ry + rh, page.shape[1])
                grown = np.zeros((ry + rh, page.shape[1]), np.uint8)
                grown[: page.shape[0]] = page
                page = grown
            page[ry:ry + rh, rx:rx + rw] |= bm
        elif stype in _HARMLESS:
            continue
        else:
            raise NotImplementedError(
                f"JBIG2 segment type {stype} (halftone/refinement); "
                f"plug a real JBIG2 library in")
    if page is None or page.size == 0:
        raise ValueError("JBIG2 stream with no decodable page")
    return np.where(page == 1, np.uint8(0), np.uint8(255))


def _segment_header(segnum: int, stype: int, page: int,
                    length: int) -> bytes:
    return (struct.pack(">IB", segnum, stype & 0x3F)
            + b"\x00"  # no referred-to segments
            + struct.pack(">B", page)
            + struct.pack(">I", length))


def jbig2_encode_embedded(img: np.ndarray, template: int = 0,
                          tpgdon: bool = False, mmr: bool = False,
                          at: list[tuple[int, int]] | None = None
                          ) -> bytes:
    """uint8 grayscale (ink black = 0, threshold 128) → embedded-
    organization JBIG2: page info + one immediate lossless generic
    region + end of page. Inverse of jbig2_decode_embedded."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("jbig2_encode wants a 2-D uint8 array")
    bm = (img < 128).astype(np.uint8)
    h, w = bm.shape
    if mmr:
        from .ccittcodec import g4_encode
        body = g4_encode(img)
        flags = 1
        at_bytes = b""
    else:
        body = generic_region_encode(bm, template, tpgdon, at)
        flags = ((template & 3) << 1) | (8 if tpgdon else 0)
        at_list = at or _NOMINAL_AT[template]
        at_bytes = b"".join(struct.pack(">bb", dx, dy)
                            for dx, dy in at_list)
    page_info = struct.pack(">IIII", w, h, 0, 0) + b"\x01" + b"\x00\x00"
    region = (struct.pack(">IIII", w, h, 0, 0) + b"\x00"
              + struct.pack(">B", flags) + at_bytes + body)
    out = (_segment_header(0, _SEG_PAGE_INFO, 1, len(page_info))
           + page_info
           + _segment_header(1, _SEG_IMM_LOSSLESS_GENERIC, 1,
                             len(region)) + region
           + _segment_header(2, _SEG_END_OF_PAGE, 1, 0))
    return out


def jbig2_encode_refined(base: np.ndarray, target: np.ndarray,
                         template: int = 0,
                         tpgron: bool = False) -> bytes:
    """Two-stage embedded stream: page info + generic region coding
    `base` + a generic REFINEMENT region re-coding the same area into
    `target` against the decoded base (the lossy-then-residual layering
    real refinement encoders emit). Both uint8 grayscale (ink black =
    0); shapes must match."""
    if base.shape != target.shape:
        raise ValueError("base/target shape mismatch")
    base_bm = (base < 128).astype(np.uint8)
    tgt_bm = (target < 128).astype(np.uint8)
    h, w = base_bm.shape
    gbody = generic_region_encode(base_bm, 0, False, None)
    gflags = 0
    gat = b"".join(struct.pack(">bb", dx, dy)
                   for dx, dy in _NOMINAL_AT[0])
    rbody = refinement_region_encode(tgt_bm, base_bm, template,
                                     tpgron=tpgron)
    rat = (b"".join(struct.pack(">bb", dx, dy)
                    for dx, dy in _REF_NOMINAL_AT)
           if template == 0 else b"")
    page_info = struct.pack(">IIII", w, h, 0, 0) + b"\x01" + b"\x00\x00"
    gregion = (struct.pack(">IIII", w, h, 0, 0) + b"\x00"
               + struct.pack(">B", gflags) + gat + gbody)
    rflags = (template & 1) | (2 if tpgron else 0)
    rregion = (struct.pack(">IIII", w, h, 0, 0) + b"\x00"
               + struct.pack(">B", rflags) + rat + rbody)
    return (_segment_header(0, _SEG_PAGE_INFO, 1, len(page_info))
            + page_info
            + _segment_header(1, _SEG_IMM_LOSSLESS_GENERIC, 1,
                              len(gregion)) + gregion
            + _segment_header(2, _SEG_IMM_LOSSLESS_REFINE, 1,
                              len(rregion)) + rregion
            + _segment_header(3, _SEG_END_OF_PAGE, 1, 0))


# ----------------- integer arithmetic decoding procedures (Annex A)

class _IntCtx:
    """One IAx procedure's context bank (512 states) bound to the
    segment's shared MQ coder."""

    __slots__ = ("icx", "mps")

    def __init__(self, n: int = 512):
        self.icx = [0] * n
        self.mps = [0] * n


_IA_CLASSES = [  # (prefix-length, value-bits, offset) per Annex A.2
    (1, 2, 0), (2, 4, 4), (3, 6, 20), (4, 8, 84), (5, 12, 340),
    (5, 32, 4436),  # the fifth prefix bit chooses 12-bit vs 32-bit
]

OOB = object()  # out-of-band marker (end of a run/strip)


def _ia_decode(mq: MQDecoder, ctx: _IntCtx):
    """Annex A.2 IAx decode → int or OOB."""
    prev = 1

    def bit() -> int:
        nonlocal prev
        d = mq.decode(ctx.icx, ctx.mps, prev)
        prev = ((prev << 1) | d) if prev < 256 else \
            ((((prev << 1) | d) & 511) | 256)
        return d

    s = bit()
    if not bit():
        nbits, offset = 2, 0
    elif not bit():
        nbits, offset = 4, 4
    elif not bit():
        nbits, offset = 6, 20
    elif not bit():
        nbits, offset = 8, 84
    elif not bit():
        nbits, offset = 12, 340
    else:
        nbits, offset = 32, 4436
    v = 0
    for _ in range(nbits):
        v = (v << 1) | bit()
    v += offset
    if s and v == 0:
        return OOB
    return -v if s else v


def _ia_encode(mq: MQEncoder, ctx: _IntCtx, value) -> None:
    """Annex A.2 inverse (fixture side). value may be OOB."""
    prev = 1

    def bit(d: int) -> None:
        nonlocal prev
        mq.encode(ctx.icx, ctx.mps, prev, d)
        prev = ((prev << 1) | d) if prev < 256 else \
            ((((prev << 1) | d) & 511) | 256)

    if value is OOB:
        bit(1)  # negative sign with magnitude 0
        bit(0)
        bit(0)
        bit(0)
        return
    s = 1 if value < 0 else 0
    v = -value if value < 0 else value
    bit(s)
    if v < 4:
        sel, nbits, off = [0], 2, 0
    elif v < 20:
        sel, nbits, off = [1, 0], 4, 4
    elif v < 84:
        sel, nbits, off = [1, 1, 0], 6, 20
    elif v < 340:
        sel, nbits, off = [1, 1, 1, 0], 8, 84
    elif v < 4436:
        sel, nbits, off = [1, 1, 1, 1, 0], 12, 340
    else:
        sel, nbits, off = [1, 1, 1, 1, 1], 32, 4436
    for d in sel:
        bit(d)
    v -= off
    for i in range(nbits - 1, -1, -1):
        bit((v >> i) & 1)


def _iaid_decode(mq: MQDecoder, ctx: _IntCtx, symcodelen: int) -> int:
    prev = 1
    for _ in range(symcodelen):
        d = mq.decode(ctx.icx, ctx.mps, prev)
        prev = (prev << 1) | d
    return prev - (1 << symcodelen)


def _iaid_encode(mq: MQEncoder, ctx: _IntCtx, symcodelen: int,
                 value: int) -> None:
    prev = 1
    for i in range(symcodelen - 1, -1, -1):
        d = (value >> i) & 1
        mq.encode(ctx.icx, ctx.mps, prev, d)
        prev = (prev << 1) | d


def _symcodelen(n: int) -> int:
    return max(1, (n - 1).bit_length())


# --------------- symbol dictionary + text region (spec 6.4/6.5/7.4)


def _decode_symbol_dict(payload: bytes,
                        input_syms: list[np.ndarray] | None = None
                        ) -> list[np.ndarray]:
    """Type-0 symbol dictionary segment → exported symbol bitmaps.
    Arithmetic coding, with SDREFAGG=1 single-instance refinement
    symbols (a symbol coded as a refinement of an earlier one —
    spec 6.5.8.2 with REFAGGNINST=1; >1 nests a text region and stays
    a named seam). input_syms = symbols accumulated from earlier
    dictionaries (referenceable by REFAGG ids)."""
    input_syms = input_syms or []
    if len(payload) < 2:
        raise ValueError("short symbol dictionary segment")
    flags = struct.unpack_from(">H", payload, 0)[0]
    sdhuff = flags & 1
    sdrefagg = (flags >> 1) & 1
    template = (flags >> 10) & 3
    rtemplate = (flags >> 12) & 1
    if sdhuff:
        raise NotImplementedError(
            "JBIG2 symbol dictionary with SDHUFF+SDREFAGG; plug a "
            "real JBIG2 library in")
    pos = 2
    n_at = 4 if template == 0 else 1
    at = []
    for _ in range(n_at):
        dx, dy = struct.unpack_from(">bb", payload, pos)
        at.append((dx, dy))
        pos += 2
    rat = None
    if sdrefagg and rtemplate == 0:
        rat = []
        for _ in range(2):
            dx, dy = struct.unpack_from(">bb", payload, pos)
            rat.append((dx, dy))
            pos += 2
    n_ex, n_new = struct.unpack_from(">II", payload, pos)
    pos += 8

    mq = MQDecoder(payload[pos:])
    iadh, iadw, iaex = _IntCtx(), _IntCtx(), _IntCtx()
    gb_icx = [0] * (1 << _CTX_BITS[template])
    gb_mps = [0] * (1 << _CTX_BITS[template])
    if sdrefagg:
        iaai, iardx, iardy = _IntCtx(), _IntCtx(), _IntCtx()
        symcodelen = _symcodelen(len(input_syms) + n_new)
        iaid = _IntCtx(1 << (symcodelen + 1))
        rlayout, rn_bits = _ref_layout(rtemplate, rat or _REF_NOMINAL_AT)
        gr_icx = [0] * (1 << rn_bits)
        gr_mps = [0] * (1 << rn_bits)

    new_syms: list[np.ndarray] = []
    hcheight = 0
    while len(new_syms) < n_new:
        dh = _ia_decode(mq, iadh)
        if dh is OOB:
            raise ValueError("OOB height-class delta")
        hcheight += dh
        symwidth = 0
        while True:
            dw = _ia_decode(mq, iadw)
            if dw is OOB:
                break  # height class complete
            symwidth += dw
            if symwidth <= 0 or hcheight <= 0:
                raise ValueError("non-positive symbol geometry")
            if sdrefagg:
                n_inst = _ia_decode(mq, iaai)
                if n_inst != 1:
                    raise NotImplementedError(
                        "JBIG2 REFAGG with REFAGGNINST != 1 (nested "
                        "text region); plug a real JBIG2 library in")
                sid = _iaid_decode(mq, iaid, symcodelen)
                rdx = _ia_decode(mq, iardx)
                rdy = _ia_decode(mq, iardy)
                pool = input_syms + new_syms
                if rdx is OOB or rdy is OOB or not 0 <= sid < len(pool):
                    raise ValueError("bad REFAGG reference")
                bm = np.zeros((hcheight, symwidth), np.uint8)
                _refine_code(mq, gr_icx, gr_mps, rlayout, bm, pool[sid],
                             rdx, rdy)
            else:
                bm = np.zeros((hcheight, symwidth), np.uint8)
                _generic_code(mq, gb_icx, gb_mps, template, at, bm)
            new_syms.append(bm)
            if len(new_syms) > n_new:
                raise ValueError("more symbols than declared")
    # export flags: alternating runs, starting NOT-exported
    exported: list[np.ndarray] = []
    i = 0
    exflag = False
    while i < len(new_syms) and len(exported) < n_ex:
        run = _ia_decode(mq, iaex)
        if run is OOB or run < 0:
            raise ValueError("bad export run")
        if exflag:
            exported.extend(new_syms[i:i + run])
        i += run
        exflag = not exflag
    if len(exported) != n_ex:
        raise ValueError("export count mismatch")
    return exported


def _decode_text_region(payload: bytes,
                        symbols: list[np.ndarray]
                        ) -> tuple[int, int, int, int, np.ndarray]:
    """Type 4/6/7 text region segment → (x, y, w, h, bitmap).
    Arithmetic, non-refined; SBSTRIPS from LOGSBSTRIPS; REFCORNER
    handled for all four corners; TRANSPOSED mode (vertical strips — S
    advances along y, T along x, the vertical-text layout) decodes
    too."""
    if len(payload) < 17 + 2 + 4:
        raise ValueError("short text region segment")
    rw, rh, rx, ry = struct.unpack_from(">IIII", payload, 0)
    _check_region_dims(rw, rh)
    flags = struct.unpack_from(">H", payload, 17)[0]
    sbhuff = flags & 1
    refine = (flags >> 1) & 1
    logsbstrips = (flags >> 2) & 3
    refcorner = (flags >> 4) & 3
    transposed = (flags >> 6) & 1
    sbdefpixel = (flags >> 9) & 1
    dsoffset = (flags >> 10) & 0x1F
    if dsoffset > 15:
        dsoffset -= 32
    rtemplate = (flags >> 15) & 1
    if sbhuff:
        raise NotImplementedError(
            "JBIG2 text region with SBHUFF+REFINE; plug a real JBIG2 "
            "library in")
    sbstrips = 1 << logsbstrips
    pos = 19
    sbrat = None
    if refine and rtemplate == 0:
        sbrat = []
        for _ in range(2):
            adx, ady = struct.unpack_from(">bb", payload, pos)
            sbrat.append((adx, ady))
            pos += 2
    n_inst = struct.unpack_from(">I", payload, pos)[0]
    pos += 4
    if not symbols:
        raise ValueError("text region without symbol dictionary")
    symcodelen = _symcodelen(len(symbols))

    mq = MQDecoder(payload[pos:])
    iadt, iafs, iads, iait = (_IntCtx(), _IntCtx(), _IntCtx(),
                              _IntCtx())
    iaid = _IntCtx(1 << (symcodelen + 1))
    if refine:
        iari, iardw, iardh = _IntCtx(), _IntCtx(), _IntCtx()
        iardx, iardy = _IntCtx(), _IntCtx()
        rlayout, rn_bits = _ref_layout(rtemplate,
                                    sbrat or _REF_NOMINAL_AT)
        gr_icx = [0] * (1 << rn_bits)
        gr_mps = [0] * (1 << rn_bits)

    bm = np.full((rh, rw), sbdefpixel, np.uint8)
    stript = -(_ia_decode(mq, iadt)) * sbstrips
    # spec 6.4.5 step 1: STRIPT = -IADT * SBSTRIPS; then loop adds
    firsts = 0
    ninst = 0
    while ninst < n_inst:
        dt = _ia_decode(mq, iadt)
        if dt is OOB:
            raise ValueError("OOB strip delta")
        stript += dt * sbstrips
        first = True
        curs = 0
        while True:
            if first:
                dfs = _ia_decode(mq, iafs)
                if dfs is OOB:
                    raise ValueError("OOB first-S")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = _ia_decode(mq, iads)
                if ids is OOB:
                    break  # end of strip
                curs += ids + dsoffset
            curt = (_ia_decode(mq, iait)
                    if sbstrips > 1 else 0)
            if curt is OOB:
                raise ValueError("OOB T offset")
            tt = stript + curt
            sid = _iaid_decode(mq, iaid, symcodelen)
            if not 0 <= sid < len(symbols):
                raise ValueError("symbol id out of range")
            sym = symbols[sid]
            hs, ws = sym.shape
            if refine:
                ri = _ia_decode(mq, iari)
                if ri is OOB:
                    raise ValueError("OOB refinement flag")
                if ri:
                    rdw = _ia_decode(mq, iardw)
                    rdh = _ia_decode(mq, iardh)
                    rdx = _ia_decode(mq, iardx)
                    rdy = _ia_decode(mq, iardy)
                    if OOB in (rdw, rdh, rdx, rdy):
                        raise ValueError("OOB refinement delta")
                    nw, nh = ws + rdw, hs + rdh
                    if nw <= 0 or nh <= 0:
                        raise ValueError("non-positive refined dims")
                    # spec 6.4.11: GRREFERENCEDX = floor(RDW/2)+RDX
                    ref, sym = sym, np.zeros((nh, nw), np.uint8)
                    _refine_code(mq, gr_icx, gr_mps, rlayout, sym, ref,
                                 (rdw >> 1) + rdx, (rdh >> 1) + rdy)
                    hs, ws = nh, nw
            # placement per REFCORNER; 0 BOTTOMLEFT, 1 TOPLEFT,
            # 2 BOTTOMRIGHT, 3 TOPRIGHT (spec 6.4.5 step 3c(x))
            if transposed:
                # S advances along y (vertical strip), T along x; the
                # corner picks the x anchor
                y0 = curs
                x0 = tt if refcorner in (0, 1) else tt - ws + 1
            else:
                # S advances along x; the corner picks the y anchor
                x0 = curs
                y0 = tt if refcorner in (1, 3) else tt - hs + 1
            xx0, yy0 = max(x0, 0), max(y0, 0)
            xx1, yy1 = min(x0 + ws, rw), min(y0 + hs, rh)
            if xx0 < xx1 and yy0 < yy1:
                bm[yy0:yy1, xx0:xx1] |= sym[yy0 - y0:yy1 - y0,
                                            xx0 - x0:xx1 - x0]
            curs += (hs if transposed else ws) - 1
            ninst += 1
            if ninst > n_inst:
                raise ValueError("more instances than declared")
    return rx, ry, rw, rh, bm


def _encode_symbol_dict(symbols: list[np.ndarray],
                        template: int = 0) -> bytes:
    """Symbols ({0,1} bitmaps, HEIGHT-CLASS-SORTED order — the order
    text-region symbol ids reference) → type-0 symbol dictionary
    payload. All symbols exported."""
    at = _NOMINAL_AT[template]
    mq = MQEncoder()
    iadh, iadw, iaex = _IntCtx(), _IntCtx(), _IntCtx()
    gb_icx = [0] * (1 << _CTX_BITS[template])
    gb_mps = [0] * (1 << _CTX_BITS[template])

    hcheight = 0
    i = 0
    n = len(symbols)
    while i < n:
        h = symbols[i].shape[0]
        _ia_encode(mq, iadh, h - hcheight)
        hcheight = h
        symwidth = 0
        while i < n and symbols[i].shape[0] == h:
            w = symbols[i].shape[1]
            _ia_encode(mq, iadw, w - symwidth)
            symwidth = w
            _generic_code(mq, gb_icx, gb_mps, template, at, symbols[i])
            i += 1
        _ia_encode(mq, iadw, OOB)
    _ia_encode(mq, iaex, 0)
    _ia_encode(mq, iaex, n)
    body = mq.flush()
    at_bytes = b"".join(struct.pack(">bb", dx, dy) for dx, dy in at)
    flags = (template & 3) << 10
    return (struct.pack(">H", flags) + at_bytes
            + struct.pack(">II", n, n) + body)


def _encode_symbol_dict_refagg(new_symbols: list[np.ndarray],
                               input_syms: list[np.ndarray],
                               ref_ids: list[int]) -> bytes:
    """SDREFAGG=1 dictionary (REFAGGNINST=1, rdx=rdy=0): every new
    symbol is refinement-coded against pool index ref_ids[i], where
    the pool is the imported symbols followed by the new symbols
    decoded so far. New symbols must be height-class-sorted; all
    exported."""
    mq = MQEncoder()
    iadh, iadw, iaex = _IntCtx(), _IntCtx(), _IntCtx()
    iaai, iardx, iardy = _IntCtx(), _IntCtx(), _IntCtx()
    n = len(new_symbols)
    symcodelen = _symcodelen(len(input_syms) + n)
    iaid = _IntCtx(1 << (symcodelen + 1))
    rlayout, rn_bits = _ref_layout(0, _REF_NOMINAL_AT)
    gr_icx = [0] * (1 << rn_bits)
    gr_mps = [0] * (1 << rn_bits)
    pool = list(input_syms)

    hcheight = 0
    i = 0
    while i < n:
        h = new_symbols[i].shape[0]
        _ia_encode(mq, iadh, h - hcheight)
        hcheight = h
        symwidth = 0
        while i < n and new_symbols[i].shape[0] == h:
            w = new_symbols[i].shape[1]
            _ia_encode(mq, iadw, w - symwidth)
            symwidth = w
            if not 0 <= ref_ids[i] < len(pool):
                raise ValueError("refagg reference outside the pool")
            _ia_encode(mq, iaai, 1)
            _iaid_encode(mq, iaid, symcodelen, ref_ids[i])
            _ia_encode(mq, iardx, 0)
            _ia_encode(mq, iardy, 0)
            _refine_code(mq, gr_icx, gr_mps, rlayout, new_symbols[i],
                         pool[ref_ids[i]], 0, 0)
            pool.append(new_symbols[i])
            i += 1
        _ia_encode(mq, iadw, OOB)
    _ia_encode(mq, iaex, 0)
    _ia_encode(mq, iaex, n)
    body = mq.flush()
    flags = 2  # SDREFAGG=1, SDTEMPLATE=0, SDRTEMPLATE=0
    at_bytes = b"".join(struct.pack(">bb", dx, dy)
                        for dx, dy in _NOMINAL_AT[0])
    rat_bytes = b"".join(struct.pack(">bb", dx, dy)
                         for dx, dy in _REF_NOMINAL_AT)
    return (struct.pack(">H", flags) + at_bytes + rat_bytes
            + struct.pack(">II", n, n) + body)


def _encode_text_region(w: int, h: int,
                        instances: list[tuple[int, int, int]],
                        symbols: list[np.ndarray],
                        transposed: bool = False,
                        refine: dict[int, np.ndarray] | None = None
                        ) -> bytes:
    """instances = [(x, y, sym_id)] placed TOPLEFT, SBSTRIPS=1 →
    type-7 immediate lossless text region payload. transposed=True
    emits the vertical-strip layout (T along x, S along y — the
    vertical-text shape). refine maps an instance index to a TARGET
    bitmap refinement-coded in place of the symbol (REFINE=1,
    rdx=rdy=0)."""
    symcodelen = _symcodelen(len(symbols))
    mq = MQEncoder()
    iadt, iafs, iads, iaid = (_IntCtx(), _IntCtx(), _IntCtx(),
                              _IntCtx(1 << (symcodelen + 1)))
    if refine is not None:
        iari, iardw, iardh = _IntCtx(), _IntCtx(), _IntCtx()
        iardx, iardy = _IntCtx(), _IntCtx()
        rlayout, rn_bits = _ref_layout(0, _REF_NOMINAL_AT)
        gr_icx = [0] * (1 << rn_bits)
        gr_mps = [0] * (1 << rn_bits)
    by_t: dict[int, list[tuple[int, int, int]]] = {}
    for idx, (x, y, sid) in enumerate(instances):
        t, s = (x, y) if transposed else (y, x)
        by_t.setdefault(t, []).append((s, sid, idx))
    _ia_encode(mq, iadt, 0)  # STRIPT init: -0
    stript = 0
    firsts = 0
    for t in sorted(by_t):
        _ia_encode(mq, iadt, t - stript)
        stript = t
        row = sorted(by_t[t])
        first = True
        curs = 0
        for s, sid, idx in row:
            if first:
                _ia_encode(mq, iafs, s - firsts)
                firsts = s
                curs = s
                first = False
            else:
                _ia_encode(mq, iads, s - curs)
                curs = s
            _iaid_encode(mq, iaid, symcodelen, sid)
            hs, ws = symbols[sid].shape
            if refine is not None:
                if idx in refine:
                    tgt = refine[idx]
                    nh, nw = tgt.shape
                    _ia_encode(mq, iari, 1)
                    _ia_encode(mq, iardw, nw - ws)
                    _ia_encode(mq, iardh, nh - hs)
                    _ia_encode(mq, iardx, 0)
                    _ia_encode(mq, iardy, 0)
                    _refine_code(
                        mq, gr_icx, gr_mps, rlayout, tgt, symbols[sid],
                        (nw - ws) >> 1, (nh - hs) >> 1)
                    hs, ws = nh, nw
                else:
                    _ia_encode(mq, iari, 0)
            curs += (hs if transposed else ws) - 1
        _ia_encode(mq, iads, OOB)
    body = mq.flush()
    # REFCORNER = TOPLEFT, SBSTRIPS=1, arith (+ TRANSPOSED bit 6,
    # + REFINE bit 1; SBRTEMPLATE=0 → SBRAT written)
    flags = (1 << 4) | ((1 << 6) if transposed else 0) \
        | (2 if refine is not None else 0)
    rat = (b"".join(struct.pack(">bb", dx, dy)
                    for dx, dy in _REF_NOMINAL_AT)
           if refine is not None else b"")
    return (struct.pack(">IIII", w, h, 0, 0) + b"\x00"
            + struct.pack(">H", flags) + rat
            + struct.pack(">I", len(instances)) + body)


def jbig2_encode_text(img_shape: tuple[int, int],
                      symbols: list[np.ndarray],
                      instances: list[tuple[int, int, int]],
                      template: int = 0,
                      transposed: bool = False) -> bytes:
    """Embedded-organization symbol/text JBIG2: page info + symbol
    dictionary + immediate lossless text region + end of page. This is
    the mode real scanner encoders emit for text-heavy pages (symbol
    reuse is where JBIG2's compression comes from). symbols must be
    height-class-sorted ({0,1} bitmaps); instances reference their
    indexes and place TOPLEFT."""
    h, w = img_shape
    page_info = (struct.pack(">IIII", w, h, 0, 0) + b"\x01"
                 + b"\x00\x00")
    sd = _encode_symbol_dict(symbols, template)
    tr = _encode_text_region(w, h, instances, symbols,
                             transposed=transposed)
    return (_segment_header(0, _SEG_PAGE_INFO, 1, len(page_info))
            + page_info
            + _segment_header(1, _SEG_SYMBOL_DICT, 1, len(sd)) + sd
            + _segment_header(2, _SEG_IMM_LOSSLESS_TEXT, 1, len(tr))
            + tr
            + _segment_header(3, _SEG_END_OF_PAGE, 1, 0))


def symbols_from_text(text: str) -> tuple[tuple[int, int],
                                          list[np.ndarray],
                                          list[tuple[int, int, int]],
                                          np.ndarray]:
    """Build a symbol/text fixture from a real rendered line: unique
    glyph bitmaps (height-class-sorted) + per-char placements from
    synth.font.render_line's boxes → (page shape, symbols, instances,
    expected {0,1} page bitmap)."""
    from .font import render_line

    img, char_boxes, _words = render_line(text)
    page = (img < 128).astype(np.uint8)
    h, w = page.shape
    chars = [c for c in text if c != " "]
    # symbols are CUT from the rendered page at the char boxes — the
    # crop is what a real symbol-classifying encoder stores, and it
    # makes instances reproduce the page exactly by construction
    uniq: dict[str, np.ndarray] = {}
    places: list[tuple[int, int, str]] = []
    for ch, box in zip(chars, char_boxes):
        x0, y0, x1, y1 = (int(v) for v in box)
        if ch not in uniq:
            uniq[ch] = page[y0:y1, x0:x1].copy()
        places.append((x0, y0, ch))
    order = sorted(uniq, key=lambda c: (uniq[c].shape[0],
                                        uniq[c].shape[1], c))
    symbols = [uniq[c] for c in order]
    sym_id = {c: i for i, c in enumerate(order)}
    instances = [(x, y, sym_id[ch]) for x, y, ch in places]
    return (h, w), symbols, instances, page
