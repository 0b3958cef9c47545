"""Minimal REAL JPEG2000 (JP2/JPX) codec — pure NumPy + stdlib.

Closes the /JPXDecode image-XObject seam in the PDF branch
(functions/pdftext.py): scanned archives (notably Internet-Archive-era
digitizations) embed JPEG2000 images, and the reference's data
pipeline consumes such archives (dell-research-harvard/effocr README;
the engine itself ships no codec — this is capability the reference
lacks).

Implemented, from the T.800 spec structure:
- JP2 container boxes (jP/ftyp/jp2h/ihdr/colr/jp2c) AND raw
  codestreams (PDF carries either).
- Codestream: SIZ/COD/QCD/SOT/SOD/EOC; single tile, one quality
  layer, LRCP progression, default precincts (one per resolution),
  REVERSIBLE path: 5/3 integer lifting wavelet, no quantization
  (Sqcd style 0), optional RCT (reversible color transform) — so
  encode→decode is BIT-LOSSLESS, which the tests pin exactly.
- Tier-2: packet headers with tag-tree inclusion / zero-bitplane
  coding, comma-coded pass counts, Lblock length coding, 0xFF bit
  stuffing.
- Tier-1: EBCOT context modeling per T.800 Annex D — significance
  propagation / magnitude refinement / cleanup passes with
  run-length mode, band-oriented significance contexts, sign
  contexts with XOR, 19 contexts over the SAME MQ coder the JBIG2
  codec implements (jbig2codec.MQDecoder/MQEncoder — T.88 and T.800
  share the 47-state Qe machine; only context initialization
  differs: uniform=46, run-length=3, zero-significance=4). The
  pass walker (_Coder) keeps σ, sign, visited and first-refinement
  flags in flat bytearrays over the padded block, plus an 8-bit
  neighbour-significance mask per coefficient that _set_sig updates;
  the significance context is one lookup of that mask in the band's
  256-entry Table D.1, and the magnitude context and the cleanup
  run-length test read the same mask. Magnitudes stay Python ints
  until coefficients().

Both the REVERSIBLE path (5/3 integer wavelet, no quantization, RCT —
bit-lossless, exactly pinned by tests) and the IRREVERSIBLE path real
photographic archives use (9/7 float lifting per Annex F, ICT color,
scalar-EXPOUNDED quantization with midpoint dequantization —
PSNR-pinned) are implemented.

Multiple quality layers (≤64, LRCP) decode: packet state (inclusion
tag trees, Lblock, pass counts) persists per precinct across layers
and code-block codeword chunks concatenate — the quality-progressive
form production encoders emit.

Multiple TILES decode (raster tile grid, per-tile SOT/Psot spans and
band layouts, ragged edge tiles) — the form large scans ship.

Image/tile offsets (2^levels-aligned origins), ALL FIVE progressions
(LRCP/RLCP/RPCL/PCRL/CPRL), SOP/EPH resilience markers, CUSTOM
PRECINCTS (per-resolution PPx/PPy, precinct-local tag trees,
effective code-block shrink), PPT packed packet headers and QCC
per-component quantization decode and encode — all bit-exact on the
reversible path. Markers that change decoding but are unimplemented
(tile-part COD/COC/QCD/QCC/POC, main-header POC/PPM/RGN-nonmaxshift,
COC) FAIL CLOSED instead of being silently skipped.

Named seams (raise NotImplementedError): odd-parity canvas origins,
selective arithmetic bypass / pass termination / segmentation
symbols, scalar-DERIVED quantization (style 1), subsampled
components, COC, PPM, POC. OpenJPEG's defaults fall inside the
implemented envelope.
"""

from __future__ import annotations

import struct
from functools import partial

import numpy as np

from .jbig2codec import MQDecoder, MQEncoder

# ------------------------------------------------------------- wavelet

def _dwt53_1d_forward(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1D reversible 5/3 lifting on int arrays → (low, high); handles
    odd/even and length-1 signals with symmetric extension."""
    n = len(x)
    if n == 1:
        return x.copy(), x[:0]
    ext = np.empty(n + 4, np.int64)
    ext[2:-2] = x
    ext[1] = x[1] if n > 1 else x[0]
    ext[0] = x[2] if n > 2 else x[0]
    ext[-2] = x[-2] if n > 1 else x[-1]
    ext[-1] = x[-3] if n > 2 else x[-1]
    # predict: high[i] = x[2i+1] - floor((x[2i] + x[2i+2]) / 2)
    n_hi = n // 2
    n_lo = n - n_hi
    hi = np.empty(n_hi, np.int64)
    for i in range(n_hi):
        hi[i] = ext[2 + 2 * i + 1] - (
            (ext[2 + 2 * i] + ext[2 + 2 * i + 2]) >> 1)
    # update: low[i] = x[2i] + floor((hi[i-1] + hi[i] + 2) / 4)
    lo = np.empty(n_lo, np.int64)
    for i in range(n_lo):
        a = hi[i - 1] if i - 1 >= 0 else (hi[0] if n_hi else 0)
        b = hi[i] if i < n_hi else (hi[n_hi - 1] if n_hi else 0)
        lo[i] = ext[2 + 2 * i] + ((a + b + 2) >> 2)
    return lo, hi


def _dwt53_1d_inverse(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    n = len(lo) + len(hi)
    if n == 1:
        return lo.copy()
    x = np.empty(n, np.int64)
    n_hi = len(hi)
    n_lo = len(lo)
    # even samples: x[2i] = lo[i] - floor((hi[i-1] + hi[i] + 2) / 4)
    for i in range(n_lo):
        a = hi[i - 1] if i - 1 >= 0 else (hi[0] if n_hi else 0)
        b = hi[i] if i < n_hi else (hi[n_hi - 1] if n_hi else 0)
        x[2 * i] = lo[i] - ((a + b + 2) >> 2)
    # odd: x[2i+1] = hi[i] + floor((x[2i] + x[2i+2]) / 2)
    for i in range(n_hi):
        left = x[2 * i]
        right = x[2 * i + 2] if 2 * i + 2 < n else x[2 * i]
        x[2 * i + 1] = hi[i] + ((left + right) >> 1)
    return x


def dwt53_forward(img: np.ndarray, levels: int) -> list:
    """2D forward 5/3 → [LL_n, (HL_n, LH_n, HH_n), ...,
    (HL_1, LH_1, HH_1)] with arbitrary (odd) dimensions."""
    cur = img.astype(np.int64)
    bands: list = []
    for _ in range(levels):
        h, w = cur.shape
        lo_c = np.empty((h, (w + 1) // 2), np.int64)
        hi_c = np.empty((h, w // 2), np.int64)
        for y in range(h):
            lo_c[y], hi_c[y] = _dwt53_1d_forward(cur[y])
        def col_split(block):
            hh, ww = block.shape
            lo_r = np.empty(((hh + 1) // 2, ww), np.int64)
            hi_r = np.empty((hh // 2, ww), np.int64)
            for x in range(ww):
                lo_r[:, x], hi_r[:, x] = _dwt53_1d_forward(block[:, x])
            return lo_r, hi_r
        ll, lh = col_split(lo_c)
        hl, hh = col_split(hi_c)
        bands.append((hl, lh, hh))
        cur = ll
    bands.append(cur)
    return bands[::-1]  # [LL, (HL,LH,HH)_n ... (HL,LH,HH)_1]


def dwt53_inverse(bands: list) -> np.ndarray:
    cur = bands[0].astype(np.int64)
    for hl, lh, hh in bands[1:]:
        def col_join(lo_r, hi_r):
            hh_ = lo_r.shape[0] + hi_r.shape[0]
            out = np.empty((hh_, lo_r.shape[1]), np.int64)
            for x in range(lo_r.shape[1]):
                out[:, x] = _dwt53_1d_inverse(lo_r[:, x], hi_r[:, x])
            return out
        lo_c = col_join(cur, lh)
        hi_c = col_join(hl, hh)
        w = lo_c.shape[1] + hi_c.shape[1]
        out = np.empty((lo_c.shape[0], w), np.int64)
        for y in range(lo_c.shape[0]):
            out[y] = _dwt53_1d_inverse(lo_c[y], hi_c[y])
        cur = out
    return cur


# ------------------------------------------------------- bit I/O (B.10)

class _HdrReader:
    """Packet-header bit reader with JPEG2000 stuffing: after an 0xFF
    byte only 7 bits of the following byte are used (its MSB is a
    stuffed 0)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self._bits = 0
        self._acc = 0
        self._prev_ff = False

    def bit(self) -> int:
        if self._bits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG2000 packet header exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if self._prev_ff:
                if byte & 0x80:
                    raise ValueError("missing stuffed zero after 0xFF")
                self._bits = 7
            else:
                self._bits = 8
            self._acc = byte
            self._prev_ff = byte == 0xFF
        self._bits -= 1
        return (self._acc >> self._bits) & 1

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> int:
        """Finish the header: discard remaining bits of the current
        byte (a final 0xFF is followed by a stuffed byte that must be
        consumed). → position of the packet body."""
        if self._prev_ff and self._bits == 0:
            # next byte is the stuffed one; it belongs to the header
            if self.pos < len(self.data):
                self.pos += 1
        self._bits = 0
        self._prev_ff = False
        return self.pos


class _HdrWriter:
    """Packet-header bit writer with 0xFF stuffing (mirror of
    _HdrReader)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._bits = 0
        self._acc = 0
        self._cap = 8

    def bit(self, b: int) -> None:
        self._acc = (self._acc << 1) | (b & 1)
        self._bits += 1
        if self._bits == self._cap:
            self.out.append(self._acc if self._cap == 8
                            else self._acc & 0x7F)
            self._cap = 7 if self.out[-1] == 0xFF else 8
            self._bits = 0
            self._acc = 0

    def write(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1)

    def getvalue(self) -> bytes:
        if self._bits:
            pad = self._cap - self._bits
            byte = self._acc << pad
            self.out.append(byte if self._cap == 8 else byte & 0x7F)
            self._bits = 0
            self._acc = 0
            self._cap = 7 if self.out[-1] == 0xFF else 8
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)  # terminate a trailing 0xFF
        return bytes(self.out)


# ------------------------------------------------------ tag trees

class TagTreeDecoder:
    """2D tag tree (B.10.2): each node's value is its quad's minimum;
    a node codes (value - parent_value) zero bits then a one bit, read
    lazily as thresholds grow."""

    def __init__(self, w: int, h: int) -> None:
        dims = []
        while w > 1 or h > 1:
            dims.append((w, h))
            w, h = (w + 1) // 2, (h + 1) // 2
        dims.append((1, 1))
        self.dims = dims
        self.low = [np.zeros((hh, ww), np.int64) for ww, hh in dims]
        self.known = [np.zeros((hh, ww), bool) for ww, hh in dims]

    def decode(self, r: _HdrReader, x: int, y: int,
               threshold: int) -> bool:
        """→ True iff the leaf's value is known and < threshold."""
        path = []
        xx, yy = x, y
        for lev in range(len(self.dims)):
            path.append((lev, xx, yy))
            xx, yy = xx // 2, yy // 2
        lower = 0
        for lev, xx, yy in reversed(path):
            low = self.low[lev]
            known = self.known[lev]
            if low[yy, xx] < lower:
                low[yy, xx] = lower
            while not known[yy, xx] and low[yy, xx] < threshold:
                if r.bit():
                    known[yy, xx] = True
                else:
                    low[yy, xx] += 1
            if not known[yy, xx]:
                return False  # this node's value ≥ threshold
            lower = int(low[yy, xx])
        return lower < threshold

    def full_value(self, r: _HdrReader, x: int, y: int) -> int:
        """Decode until the leaf's exact value is known (used for
        zero-bitplane counts)."""
        t = 1
        while not self.decode(r, x, y, t):
            t += 1
        return int(self.low[0][y, x])


class TagTreeEncoder:
    def __init__(self, leaves: np.ndarray) -> None:
        self.levels = [leaves.astype(np.int64)]
        h, w = leaves.shape
        while w > 1 or h > 1:
            w, h = (w + 1) // 2, (h + 1) // 2
            prev = self.levels[-1]
            cur = np.zeros((h, w), np.int64)
            for y in range(h):
                for x in range(w):
                    cur[y, x] = prev[2 * y:2 * y + 2,
                                     2 * x:2 * x + 2].min()
            self.levels.append(cur)
        self.state = [np.zeros(lv.shape, np.int64)
                      for lv in self.levels]
        self.done = [np.zeros(lv.shape, bool) for lv in self.levels]

    def encode(self, w: _HdrWriter, x: int, y: int,
               threshold: int) -> None:
        path = []
        xx, yy = x, y
        for lev in range(len(self.levels)):
            path.append((lev, xx, yy))
            xx, yy = xx // 2, yy // 2
        lower = 0
        for lev, xx, yy in reversed(path):
            st = self.state[lev]
            done = self.done[lev]
            val = int(self.levels[lev][yy, xx])
            if st[yy, xx] < lower:
                st[yy, xx] = lower
            while not done[yy, xx] and st[yy, xx] < threshold:
                if val > st[yy, xx]:
                    w.bit(0)
                    st[yy, xx] += 1
                else:
                    w.bit(1)
                    done[yy, xx] = True
            if not done[yy, xx]:
                return  # conveyed: value ≥ threshold
            lower = val


# ------------------------------------------------ EBCOT tier-1 (Annex D)

N_CTX = 19  # 0-8 significance, 9-13 sign, 14-16 refinement, 17 RL, 18 UNI
_CTX_RL, _CTX_UNI = 17, 18


def _init_ctx() -> tuple[list[int], list[int]]:
    """T.800 context initialization: zero-significance ctx → state 4,
    run-length → 3, uniform → 46, everything else 0."""
    icx = [0] * N_CTX
    icx[0] = 4
    icx[_CTX_RL] = 3
    icx[_CTX_UNI] = 46
    return icx, [0] * N_CTX


# Neighbour-significance mask bits: each coefficient keeps one byte
# saying which of its 8 neighbours are significant.
_W, _E, _N, _S = 1, 2, 4, 8
_NW, _NE, _SW, _SE = 16, 32, 64, 128


def _sig_table(band: str) -> bytes:
    """Table D.1 as a 256-entry lookup: neighbour-significance mask →
    significance context. HL swaps H/V, HH keys on the diagonal
    count. Context 0 ⇔ mask 0 in every band."""
    out = bytearray(256)
    for m in range(256):
        hh = (m & _W and 1) + (m & _E and 1)
        vv = (m & _N and 1) + (m & _S and 1)
        dd = bin(m >> 4).count("1")
        if band == "HL":
            hh, vv = vv, hh
        if band != "HH":
            if hh == 2:
                ctx = 8
            elif hh == 1:
                ctx = 7 if vv >= 1 else (6 if dd >= 1 else 5)
            elif vv == 2:
                ctx = 4
            elif vv == 1:
                ctx = 3
            else:
                ctx = 2 if dd >= 2 else dd
        elif dd >= 3:
            ctx = 8
        elif dd == 2:
            ctx = 7 if hh + vv >= 1 else 6
        else:
            ctx = 3 * dd + min(hh + vv, 2)
        out[m] = ctx
    return bytes(out)


_SIG_CTX = {band: _sig_table(band) for band in ("LL", "HL", "LH", "HH")}

# Table D.3: (sign context, XOR bit) by the clipped horizontal and
# vertical sign contributions, each indexed -1/0/1 → 0/1/2.
_SIGN_CTX = (((13, 1), (12, 1), (11, 1)),
             ((10, 1), (9, 0), (10, 0)),
             ((11, 0), (12, 0), (13, 0)))


class _Coder:
    """Shared pass walker: drives the three coding passes in T.800
    order over the stripe-column scan, delegating actual bit transfer
    to code_sig/code_sign/code_ref/code_run — implemented by the MQ
    decoder (reads bits) and the encoder (derives bits from the known
    coefficients and writes them), so both sides execute the IDENTICAL
    context-modeling walk and roundtrip by construction.

    State lives in flat per-coefficient arrays over the block padded by
    one coefficient on every side (index i = (y+1)·(w+2) + x+1):
    σ, sign, visited-this-plane and first-refinement flags in
    bytearrays, the neighbour-significance mask `nbr` that `_set_sig`
    keeps current for the 8 neighbours, and the magnitudes as a list
    of ints. The significance context is one lookup of `nbr` in the
    band's Table D.1; the magnitude context and the cleanup run test
    read the same mask. A coefficient that became significant in this
    plane's significance pass is σ and visited, which is how the
    refinement pass skips it."""

    def __init__(self, w: int, h: int, band: str, n_planes: int) -> None:
        self.n_planes = n_planes
        stride = self.stride = w + 2
        n = (h + 2) * stride
        self.sigma = bytearray(n)
        self.sgn = bytearray(n)
        self.visited = bytearray(n)
        self.first_ref = bytearray(b"\x01") * n
        self.nbr = bytearray(n)
        self.mag = [0] * n
        self.sig_ctx = _SIG_CTX[band]
        self.icx, self.mps = _init_ctx()
        self._bit = 0  # mask of the bit plane being coded
        # stripe-column scan: (index of the column's top, its height)
        self.columns = [((y0 + 1) * stride + x + 1, min(4, h - y0))
                        for y0 in range(0, h, 4) for x in range(w)]
        self.order = [i + k * stride for i, m in self.columns
                      for k in range(m)]

    # bit-transfer hooks (decoder reads, encoder derives+writes) ------
    def code_sig(self, ctx: int, i: int) -> int:
        raise NotImplementedError

    def code_sign(self, i: int) -> int:
        raise NotImplementedError

    def code_ref(self, ctx: int, i: int) -> int:
        raise NotImplementedError

    def code_run(self, i0: int):
        raise NotImplementedError

    # ----------------------------------------------------------------
    def _sign_ctx(self, i: int) -> tuple[int, int]:
        """Sign context + XOR bit (Table D.3); sgn 1 = negative, so
        σ - 2·sgn is a neighbour's contribution (0, 1 or -1)."""
        sigma, sgn, s = self.sigma, self.sgn, self.stride
        hc = (sigma[i - 1] - 2 * sgn[i - 1]
              + sigma[i + 1] - 2 * sgn[i + 1])
        vc = (sigma[i - s] - 2 * sgn[i - s]
              + sigma[i + s] - 2 * sgn[i + s])
        return _SIGN_CTX[(hc > 0) - (hc < 0) + 1][(vc > 0) - (vc < 0) + 1]

    def _set_sig(self, i: int, sign: int) -> None:
        self.sigma[i] = 1
        self.sgn[i] = sign
        self.mag[i] |= self._bit
        nbr, s = self.nbr, self.stride
        nbr[i + 1] |= _W
        nbr[i - 1] |= _E
        nbr[i + s] |= _N
        nbr[i - s] |= _S
        nbr[i + s + 1] |= _NW
        nbr[i + s - 1] |= _NE
        nbr[i - s + 1] |= _SW
        nbr[i - s - 1] |= _SE

    def sig_prop(self) -> None:
        sigma, nbr, visited = self.sigma, self.nbr, self.visited
        table, code_sig = self.sig_ctx, self.code_sig
        for i in self.order:
            if sigma[i] or not nbr[i]:
                continue
            visited[i] = 1
            if code_sig(table[nbr[i]], i):
                self._set_sig(i, self.code_sign(i))

    def mag_ref(self) -> None:
        sigma, visited, nbr = self.sigma, self.visited, self.nbr
        first_ref, mag, bit = self.first_ref, self.mag, self._bit
        code_ref = self.code_ref
        for i in self.order:
            if not sigma[i] or visited[i]:
                continue
            if first_ref[i]:
                first_ref[i] = 0
                ctx = 15 if nbr[i] else 14
            else:
                ctx = 16
            if code_ref(ctx, i):
                mag[i] |= bit

    def cleanup(self) -> None:
        sigma, nbr, visited = self.sigma, self.nbr, self.visited
        table, code_sig, s = self.sig_ctx, self.code_sig, self.stride
        for i0, m in self.columns:
            i = i0
            if m == 4 and not (
                    sigma[i0] | visited[i0] | nbr[i0]
                    | sigma[i0 + s] | visited[i0 + s] | nbr[i0 + s]
                    | sigma[i0 + 2 * s] | visited[i0 + 2 * s]
                    | nbr[i0 + 2 * s] | sigma[i0 + 3 * s]
                    | visited[i0 + 3 * s] | nbr[i0 + 3 * s]):
                r = self.code_run(i0)
                if r is None:
                    continue  # all four stay clear this plane
                i = i0 + r * s
                self._set_sig(i, self.code_sign(i))
                i += s
            for i in range(i, i0 + m * s, s):
                if sigma[i] or visited[i]:
                    continue
                if code_sig(table[nbr[i]], i):
                    self._set_sig(i, self.code_sign(i))

    def run_passes(self, n_passes: int) -> None:
        done = 0
        for plane in range(self.n_planes):
            self._bit = 1 << (self.n_planes - 1 - plane)
            passes = ((self.cleanup,) if plane == 0
                      else (self.sig_prop, self.mag_ref, self.cleanup))
            for p in passes:
                if done >= n_passes:
                    return
                p()
                done += 1
            self.visited = bytearray(len(self.sigma))


class _BlockDecoder(_Coder):
    def __init__(self, data: bytes, w: int, h: int, band: str,
                 n_planes: int) -> None:
        super().__init__(w, h, band, n_planes)
        # one MQ decode in this block's contexts
        self.decode = partial(MQDecoder(data).decode, self.icx, self.mps)

    def code_sig(self, ctx, i):
        return self.decode(ctx)

    code_ref = code_sig

    def code_sign(self, i):
        sctx, xo = self._sign_ctx(i)
        return self.decode(sctx) ^ xo

    def code_run(self, i0):
        if not self.decode(_CTX_RL):
            return None
        return (self.decode(_CTX_UNI) << 1) | self.decode(_CTX_UNI)

    def coefficients(self) -> np.ndarray:
        out = np.array(self.mag, np.int64).reshape(-1, self.stride)
        neg = np.frombuffer(self.sgn, np.uint8).reshape(-1, self.stride)
        return np.where(neg == 1, -out, out)[1:-1, 1:-1]


class _BlockEncoder(_Coder):
    def __init__(self, coefs: np.ndarray, band: str,
                 n_planes: int) -> None:
        h, w = coefs.shape
        super().__init__(w, h, band, n_planes)
        padded = np.pad(coefs.astype(np.int64), 1)
        self.t_mag = np.abs(padded).ravel().tolist()
        self.t_sgn = (padded < 0).ravel().tolist()
        self.mq = MQEncoder()

    def code_sig(self, ctx, i):
        b = 1 if self.t_mag[i] & self._bit else 0
        self.mq.encode(self.icx, self.mps, ctx, b)
        return b

    code_ref = code_sig

    def code_sign(self, i):
        sctx, xo = self._sign_ctx(i)
        sign = int(self.t_sgn[i])
        self.mq.encode(self.icx, self.mps, sctx, sign ^ xo)
        return sign

    def code_run(self, i0):
        r = None
        for k in range(4):
            if self.t_mag[i0 + k * self.stride] & self._bit:
                r = k
                break
        if r is None:
            self.mq.encode(self.icx, self.mps, _CTX_RL, 0)
            return None
        self.mq.encode(self.icx, self.mps, _CTX_RL, 1)
        self.mq.encode(self.icx, self.mps, _CTX_UNI, (r >> 1) & 1)
        self.mq.encode(self.icx, self.mps, _CTX_UNI, r & 1)
        return r


def ebcot_decode_block(data: bytes, w: int, h: int, band: str,
                       n_planes: int, n_passes: int) -> np.ndarray:
    dec = _BlockDecoder(data, w, h, band, n_planes)
    dec.run_passes(n_passes)
    return dec.coefficients()


def ebcot_encode_block(coefs: np.ndarray, band: str
                       ) -> tuple[bytes, int, int]:
    """→ (MQ data, n_planes coded, n_passes). n_planes = bit length of
    the max magnitude (0 → empty block: no data, 0 passes)."""
    maxmag = int(np.abs(coefs).max()) if coefs.size else 0
    if maxmag == 0:
        return b"", 0, 0
    n_planes = maxmag.bit_length()
    enc = _BlockEncoder(coefs, band, n_planes)
    n_passes = 3 * n_planes - 2
    enc.run_passes(n_passes)
    return enc.mq.flush(), n_planes, n_passes


# ------------------------------------------- tier-2 + codestream (A/B)

_SOC, _SIZ, _COD, _QCD, _SOT, _SOD, _EOC = (0xFF4F, 0xFF51, 0xFF52,
                                            0xFF5C, 0xFF90, 0xFF93,
                                            0xFFD9)
_GUARD_BITS = 3
_BAND_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}


def _band_layout(w: int, h: int, levels: int) -> list[list]:
    """Resolution → [(band name, bw, bh), ...] matching dwt53_forward's
    lo=ceil/hi=floor split. Resolution 0 is LL; resolution r (1..n)
    carries HL/LH/HH of decomposition level n-r+1."""
    dims = [(w, h)]
    for _ in range(levels):
        w_, h_ = dims[-1]
        dims.append(((w_ + 1) // 2, (h_ + 1) // 2))
    out = [[("LL", dims[levels][0], dims[levels][1])]]
    for r in range(1, levels + 1):
        lev = levels - r  # dims index of the level being split
        w_, h_ = dims[lev]
        lo_w, hi_w = (w_ + 1) // 2, w_ // 2
        lo_h, hi_h = (h_ + 1) // 2, h_ // 2
        out.append([("HL", hi_w, lo_h), ("LH", lo_w, hi_h),
                    ("HH", hi_w, hi_h)])
    return out


def _read_npasses(r: _HdrReader) -> int:
    if not r.bit():
        return 1
    if not r.bit():
        return 2
    v = r.read(2)
    if v != 3:
        return 3 + v
    v = r.read(5)
    if v != 31:
        return 6 + v
    return 37 + r.read(7)


def _write_npasses(w: _HdrWriter, n: int) -> None:
    if n == 1:
        w.bit(0)
    elif n == 2:
        w.write(0b10, 2)
    elif n <= 5:
        w.write(0b11, 2)
        w.write(n - 3, 2)
    elif n <= 36:
        w.write(0b1111, 4)
        w.write(n - 6, 5)
    else:
        w.write(0b111111111, 9)
        w.write(n - 37, 7)


def _packet_sequence(prog: int, layers: int, levels: int,
                     ncomp: int, pp: list,
                     prec_grid: dict) -> list:
    """Packet order (l, r, c, pi) for every supported progression
    (B.12). Positions are precinct raster indices within a resolution;
    for the position-major orders (RPCL/PCRL/CPRL) precincts sort by
    their TILE-coordinate origin (res origin × 2^(levels−r)), the
    spec's spatial interleave."""
    if prog == 0:  # LRCP
        return [(l_, r, c, pi) for l_ in range(layers)
                for r in range(levels + 1) for c in range(ncomp)
                for pi in range(prec_grid[r][0] * prec_grid[r][1])]
    if prog == 1:  # RLCP
        return [(l_, r, c, pi) for r in range(levels + 1)
                for l_ in range(layers) for c in range(ncomp)
                for pi in range(prec_grid[r][0] * prec_grid[r][1])]
    if prog == 2:  # RPCL
        return [(l_, r, c, pi) for r in range(levels + 1)
                for pi in range(prec_grid[r][0] * prec_grid[r][1])
                for c in range(ncomp) for l_ in range(layers)]
    # PCRL / CPRL: spatially-interleaved positions across resolutions
    items = []
    for r in range(levels + 1):
        npx, npy = prec_grid[r]
        scale = 1 << (levels - r)
        for py in range(npy):
            for px in range(npx):
                ox = (px << pp[r][0]) * scale
                oy = (py << pp[r][1]) * scale
                items.append((oy, ox, r, py * npx + px))
    if prog == 3:  # PCRL: Position, Component, Resolution, Layer
        by_pos: dict = {}
        for oy, ox, r, pi in sorted(items):
            by_pos.setdefault((oy, ox), []).append((r, pi))
        return [(l_, r, c, pi)
                for pos_ in sorted(by_pos)
                for c in range(ncomp)
                for r, pi in by_pos[pos_]
                for l_ in range(layers)]
    if prog == 4:  # CPRL: Component, Position, Resolution, Layer
        return [(l_, r, c, pi) for c in range(ncomp)
                for oy, ox, r, pi in sorted(items)
                for l_ in range(layers)]
    raise NotImplementedError(f"progression order {prog}")


def _precinct_band_descs(layout_r: list, r: int,
                         cb_exp: tuple[int, int], ppx: int, ppy: int,
                         px: int, py: int) -> list:
    """One precinct's per-band code-block ranges (B.6/B.7): precinct
    (px, py) of size 2^ppx × 2^ppy on resolution r's grid projects to
    2^(ppx-1) on the r>0 bands; the effective code-block size is
    min(cblk, precinct-in-band); ranges are in the BAND-GLOBAL
    code-block grid. → [(band, bw, bh, cwe, che, cbx0, cbx1, cby0,
    cby1)] for bands this precinct intersects."""
    ppx_b = ppx - (1 if r > 0 else 0)
    ppy_b = ppy - (1 if r > 0 else 0)
    cwe = min(cb_exp[0], ppx_b)
    che = min(cb_exp[1], ppy_b)
    descs = []
    for bname, bw, bh in layout_r:
        if bw == 0 or bh == 0:
            continue
        nx_t = -(-bw // (1 << cwe))
        ny_t = -(-bh // (1 << che))
        sx = 1 << (ppx_b - cwe)  # code-blocks per precinct along x
        sy = 1 << (ppy_b - che)
        cbx0, cbx1 = min(px * sx, nx_t), min((px + 1) * sx, nx_t)
        cby0, cby1 = min(py * sy, ny_t), min((py + 1) * sy, ny_t)
        if cbx0 < cbx1 and cby0 < cby1:
            descs.append((bname, bw, bh, cwe, che,
                          cbx0, cbx1, cby0, cby1))
    return descs


class _PrecinctState:
    """Per-(component, resolution, precinct) packet-decoding state
    persisting across quality layers: inclusion / zero-bitplane tag
    trees sized to THIS precinct's code-block sub-grid, and
    per-code-block Lblock, accumulated passes and data chunks."""

    def __init__(self, band_descs: list, mb_of) -> None:
        self.bands = []
        self.state: dict = {}
        for bname, bw, bh, cwe, che, cbx0, cbx1, cby0, cby1 \
                in band_descs:
            nx, ny = cbx1 - cbx0, cby1 - cby0
            self.bands.append((bname, bw, bh, cwe, che, cbx0, cby0,
                               nx, ny, TagTreeDecoder(nx, ny),
                               TagTreeDecoder(nx, ny)))
            for cby in range(ny):
                for cbx in range(nx):
                    self.state[(bname, cbx0 + cbx, cby0 + cby)] = {
                        "included": False, "lblock": 3,
                        "n_planes": 0, "n_passes": 0, "chunks": []}
        self.mb_of = mb_of

    def decode_packet(self, data: bytes, pos: int, layer: int,
                      eph: bool = False, hdr=None) -> int:
        """hdr: a persistent _HdrReader over a PACKED header stream
        (PPT) — headers read from it, bodies stay in `data`; None =
        headers inline before each body (the default layout)."""
        r = hdr if hdr is not None else _HdrReader(data, pos)

        def finish_header() -> int:
            if hdr is None:
                p2 = r.align()
                if eph and data[p2:p2 + 2] == b"\xff\x92":
                    p2 += 2
                return p2
            r.align()
            if eph and r.data[r.pos:r.pos + 2] == b"\xff\x92":
                r.pos += 2
            return pos

        if not r.bit():  # empty packet
            return finish_header()
        contrib = []
        for bname, bw, bh, cwe, che, cbx0, cby0, nx, ny, incl, zbp \
                in self.bands:
            for cby in range(ny):
                for cbx in range(nx):
                    st = self.state[(bname, cbx0 + cbx, cby0 + cby)]
                    if st["included"]:
                        inc = r.bit()
                    else:
                        inc = incl.decode(r, cbx, cby, layer + 1)
                    if not inc:
                        continue
                    if not st["included"]:
                        p = zbp.full_value(r, cbx, cby)
                        st["n_planes"] = self.mb_of(bname) - p
                        st["included"] = True
                    n_passes = _read_npasses(r)
                    while r.bit():
                        st["lblock"] += 1
                    nbits = st["lblock"] + int(np.log2(n_passes))
                    length = r.read(nbits)
                    st["n_passes"] += n_passes
                    contrib.append((st, length))
        pos = finish_header()
        for st, length in contrib:
            st["chunks"].append(data[pos:pos + length])
            pos += length
        return pos

    def blocks(self):
        """→ [(band, x0, y0, cbw, cbh, n_planes, n_passes, body)] for
        every included code-block — PIXEL offsets into the band array
        (code-block grids are band-global; sizes honor the precinct's
        effective code-block exponents), chunks concatenated."""
        out = []
        for bname, bw, bh, cwe, che, cbx0, cby0, nx, ny, _i, _z \
                in self.bands:
            cw, ch = 1 << cwe, 1 << che
            for cby in range(ny):
                for cbx in range(nx):
                    gx, gy = cbx0 + cbx, cby0 + cby
                    st = self.state[(bname, gx, gy)]
                    if not st["included"]:
                        continue
                    cbw = min(cw, bw - gx * cw)
                    cbh = min(ch, bh - gy * ch)
                    out.append((bname, gx * cw, gy * ch, cbw, cbh,
                                st["n_planes"], st["n_passes"],
                                b"".join(st["chunks"])))
        return out


class _PrecinctEncoder:
    """Multi-layer packet writer mirroring _PrecinctState: inclusion
    tag tree over first-inclusion layers, zero-bitplane tree, per-block
    persistent Lblock."""

    def __init__(self, cb_grid: dict, first_layer: dict,
                 zbp_values: dict) -> None:
        self.cb_grid = cb_grid
        self.incl: dict = {}
        self.zbp: dict = {}
        self.state: dict = {}
        for bname, (nx, ny, mb) in cb_grid.items():
            il = np.array([[first_layer.get((bname, x, y), 99)
                            for x in range(nx)] for y in range(ny)],
                          np.int64)
            zl = np.array([[zbp_values.get((bname, x, y), 0)
                            for x in range(nx)] for y in range(ny)],
                          np.int64)
            self.incl[bname] = TagTreeEncoder(il)
            self.zbp[bname] = TagTreeEncoder(zl)
            for y in range(ny):
                for x in range(nx):
                    self.state[(bname, x, y)] = {"included": False,
                                                 "lblock": 3}

    def encode_packet(self, layer: int, contrib: dict,
                      eph: bool = False) -> bytes:
        """contrib: (band, cbx, cby) → (n_passes, chunk bytes)."""
        w = _HdrWriter()
        if not contrib:
            w.bit(0)
            return (w.getvalue() + (b"\xff\x92" if eph else b""), b"")
        w.bit(1)
        bodies = []
        for bname, (nx, ny, mb) in self.cb_grid.items():
            for cby in range(ny):
                for cbx in range(nx):
                    key = (bname, cbx, cby)
                    st = self.state[key]
                    entry = contrib.get(key)
                    if st["included"]:
                        w.bit(1 if entry else 0)
                    else:
                        self.incl[bname].encode(w, cbx, cby, layer + 1)
                    if entry is None:
                        continue
                    if not st["included"]:
                        zt = self.zbp[bname]
                        # encode the full zero-bitplane value
                        v = int(zt.levels[0][cby, cbx])
                        t = 1
                        while not v < t:
                            zt.encode(w, cbx, cby, t)
                            t += 1
                        zt.encode(w, cbx, cby, t)
                        st["included"] = True
                    n_passes, chunk = entry
                    _write_npasses(w, n_passes)
                    nbits = st["lblock"] + int(np.log2(n_passes))
                    while len(chunk).bit_length() > nbits:
                        w.bit(1)
                        st["lblock"] += 1
                        nbits += 1
                    w.bit(0)
                    w.write(len(chunk), nbits)
                    bodies.append(chunk)
        return (w.getvalue() + (b"\xff\x92" if eph else b""),
                b"".join(bodies))


def _encode_packet(band_blocks: list, cb_grid: dict,
                   eph: bool = False) -> bytes:
    """Inverse of _decode_packet. band_blocks = [(band, cbx, cby,
    n_planes, n_passes, body)] for included blocks; cb_grid[band] =
    (nx, ny, mb). eph appends the A.8.2 end-of-packet-header
    marker between header and body bytes."""
    w = _HdrWriter()
    if not band_blocks:
        w.bit(0)
        return (w.getvalue() + (b"\xff\x92" if eph else b""), b"")
    w.bit(1)
    by_band: dict = {}
    for entry in band_blocks:
        by_band.setdefault(entry[0], {})[(entry[1], entry[2])] = entry
    bodies = []
    for bname, (nx, ny, mb) in cb_grid.items():
        entries = by_band.get(bname, {})
        incl_leaves = np.array(
            [[0 if (x, y) in entries else 1 for x in range(nx)]
             for y in range(ny)], np.int64)
        zbp_leaves = np.zeros((ny, nx), np.int64)
        for (x, y), e in entries.items():
            zbp_leaves[y, x] = mb - e[3]
        incl = TagTreeEncoder(incl_leaves)
        zbp = TagTreeEncoder(zbp_leaves)
        for cby in range(ny):
            for cbx in range(nx):
                incl.encode(w, cbx, cby, 1)
                if (cbx, cby) not in entries:
                    continue
                t = 1
                while not (zbp_leaves[cby, cbx] < t):
                    zbp.encode(w, cbx, cby, t)
                    t += 1
                zbp.encode(w, cbx, cby, t)
                e = entries[(cbx, cby)]
                n_passes, body = e[4], e[5]
                _write_npasses(w, n_passes)
                lblock = 3
                nbits = lblock + int(np.log2(n_passes))
                while len(body).bit_length() > nbits:
                    w.bit(1)
                    lblock += 1
                    nbits += 1
                w.bit(0)
                w.write(len(body), nbits)
                bodies.append(body)
    return (w.getvalue() + (b"\xff\x92" if eph else b""),
            b"".join(bodies))


# --------------------------------------------------- top-level codec

def is_jp2(data: bytes) -> bool:
    return (data[:4] == b"\x00\x00\x00\x0c"
            and data[4:8] == b"jP  ") or data[:2] == b"\xff\x4f"


def _mb(depth: int, band: str) -> int:
    return _GUARD_BITS + (depth + _BAND_GAIN[band]) - 1


def decode_jp2(data: bytes) -> np.ndarray:
    """JP2 box container or raw codestream → uint8 HxWx3 (gray
    replicated). Raises ValueError/NotImplementedError outside the
    implemented envelope (caller quarantines)."""
    if data[:2] != b"\xff\x4f":
        # JP2 box walk → jp2c codestream
        if not is_jp2(data):
            raise ValueError("not a JP2/JPX stream")
        pos = 0
        cs = None
        while pos + 8 <= len(data):
            (ln,), typ = struct.unpack_from(">I", data, pos), \
                data[pos + 4:pos + 8]
            if ln == 0:
                ln = len(data) - pos
            elif ln == 1:
                raise NotImplementedError("JP2 XLBox extended length")
            if typ == b"jp2c":
                cs = data[pos + 8:pos + ln]
                break
            if ln < 8:
                raise ValueError("corrupt JP2 box length")
            pos += ln
        if cs is None:
            raise ValueError("JP2 container without jp2c codestream")
        data = cs
    return _decode_codestream(data)


def _decode_codestream(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\x4f":
        raise ValueError("missing SOC marker")
    pos = 2
    siz = cod = qcd = None
    qccs: list[bytes] = []
    rgns: list[bytes] = []
    tiles: dict[int, tuple[int, int]] = {}  # isot → (pk_start, pk_end)
    while pos + 2 <= len(data):
        sot_at = pos - 2  # position of the marker we just read
        marker = struct.unpack_from(">H", data, pos)[0]
        pos += 2
        sot_at = pos - 2
        if marker == _EOC:
            break
        if marker == _SOT:
            ln = struct.unpack_from(">H", data, pos)[0]
            isot = struct.unpack_from(">H", data, pos + 2)[0]
            psot = struct.unpack_from(">I", data, pos + 4)[0]
            sod_at = data.find(b"\xff\x93", pos)
            if sod_at < 0:
                raise ValueError("SOT without SOD")
            # walk TILE-PART HEADER markers between the SOT segment
            # and SOD: a tile-part COD/COC/QCD/QCC/PPT/POC changes how
            # the tile decodes — skipping one silently would produce
            # WRONG pixels, so they fail closed; COM/PLT are
            # informational and skip
            tp = pos + ln
            ppt_parts: list[tuple[int, bytes]] = []
            while tp < sod_at:
                tmk = struct.unpack_from(">H", data, tp)[0]
                tln = struct.unpack_from(">H", data, tp + 2)[0]
                if tmk in (0xFF64, 0xFF58):  # COM / PLT: informational
                    tp += 2 + tln
                    continue
                if tmk == 0xFF61:  # PPT: packed packet headers
                    zppt = data[tp + 4]
                    ppt_parts.append((zppt, data[tp + 5:tp + 2 + tln]))
                    tp += 2 + tln
                    continue
                raise NotImplementedError(
                    f"JPEG2000 tile-part header marker {tmk:#06x} "
                    f"(tile-scoped coding/quantization overrides); "
                    f"plug a real JPX library in")
            ppt = (b"".join(b for _z, b in sorted(ppt_parts))
                   if ppt_parts else None)
            end = (sot_at + psot) if psot else len(data) - 2
            tiles[isot] = (sod_at + 2, end, ppt)
            pos = end
            continue
        ln = struct.unpack_from(">H", data, pos)[0]
        body = data[pos + 2:pos + ln]
        if marker == _SIZ:
            siz = body
        elif marker == _COD:
            cod = body
        elif marker == _QCD:
            qcd = body
        elif marker == 0xFF5D:  # QCC: per-component quantization
            qccs.append(body)
        elif marker == 0xFF53:  # COC
            raise NotImplementedError(
                "JPEG2000 per-component COC coding-style overrides; "
                "plug a real JPX library in")
        elif marker == 0xFF5E:  # RGN: ROI (Maxshift decodes)
            rgns.append(body)
        elif marker in (0xFF5F, 0xFF60):  # POC / PPM
            # each CHANGES decoding (progression switch, packed main
            # headers) — skipping silently would produce wrong
            # pixels; fail closed
            raise NotImplementedError(
                f"JPEG2000 main-header marker {marker:#06x} "
                f"(POC/PPM); plug a real JPX library in")
        # COM / TLM / PLM / CRG and other informational markers: skip
        pos += ln
    if siz is None or cod is None or qcd is None:
        raise ValueError("missing SIZ/COD/QCD")
    if not tiles:
        raise ValueError("missing SOT/SOD")

    (xsiz, ysiz, xosiz, yosiz, xtsiz, ytsiz, xtosiz,
     ytosiz) = struct.unpack_from(">8I", siz, 2)
    ncomp = struct.unpack_from(">H", siz, 34)[0]
    if xtosiz > xosiz or ytosiz > yosiz:
        raise ValueError("tile offsets exceed image offsets")
    if xsiz <= xosiz or ysiz <= yosiz \
            or (xsiz - xosiz) * (ysiz - yosiz) > 100_000_000:
        # allocation bomb guard: a crafted SIZ (2^31 dims) must
        # quarantine the document, not OOM the executor
        raise ValueError("implausible JPEG2000 image dimensions")
    if ncomp not in (1, 3):
        raise NotImplementedError(f"JPEG2000 {ncomp} components")
    comps = []
    for i in range(ncomp):
        ssiz, xr, yr = struct.unpack_from(">BBB", siz, 36 + 3 * i)
        if ssiz & 0x80:
            raise NotImplementedError("signed JPEG2000 components")
        if xr != 1 or yr != 1:
            raise NotImplementedError("subsampled JPEG2000 components")
        comps.append(ssiz + 1)
    depth = comps[0]
    if any(c != depth for c in comps) or depth > 16:
        raise NotImplementedError("mixed/deep component depths")

    scod = cod[0]
    if scod & ~0x07:
        raise NotImplementedError(f"JPEG2000 Scod {scod:#x}")
    use_sop = bool(scod & 0x02)  # SOP marker segments (A.8.1)
    use_eph = bool(scod & 0x04)  # EPH markers (A.8.2)
    prog, layers, mct = cod[1], struct.unpack_from(">H", cod, 2)[0], \
        cod[4]
    if prog not in (0, 1, 2, 3, 4):
        raise NotImplementedError(f"progression order {prog}")
    if not 1 <= layers <= 64:
        raise NotImplementedError(f"{layers} quality layers")
    levels = cod[5]
    # offsets: the per-tile band layout below runs in LOCAL tile
    # coordinates; that equals the spec's canvas-coordinate layout
    # only when every canvas origin is even at every decomposition
    # level — require 2^levels alignment (odd-parity origins stay a
    # named seam)
    align = 1 << levels
    if any(v % align for v in (xosiz, yosiz, xtosiz, ytosiz)):
        raise NotImplementedError(
            "unaligned JPEG2000 image/tile offsets (canvas-parity "
            "band layout)")
    cbw_exp, cbh_exp = cod[6] + 2, cod[7] + 2
    if cod[8] != 0:
        raise NotImplementedError(
            "code-block style (bypass/termall/segmentation)")
    transform = cod[9]  # 1 = 5/3 reversible, 0 = 9/7 irreversible
    if transform not in (0, 1):
        raise NotImplementedError(f"wavelet transform {transform}")
    levels_ = cod[5]
    if scod & 0x01:  # custom precinct sizes: one byte per resolution
        if len(cod) < 10 + levels_ + 1:
            raise ValueError("COD missing precinct size bytes")
        pp = [(cod[10 + i] & 0x0F, cod[10 + i] >> 4)
              for i in range(levels_ + 1)]
    else:
        pp = [(15, 15)] * (levels_ + 1)  # default: one huge precinct

    def parse_quant(qbody: bytes) -> tuple[int, dict, dict]:
        """Sqcd/SPqcd (QCD body, or a QCC body after its Cqcc byte) →
        (qstyle, mb_map, quant_map) keyed (resolution, band)."""
        sq = qbody[0]
        qs = sq & 0x1F
        gd = sq >> 5
        if qs == 0:  # no quantization: 8-bit entries, exponent only
            exps = [b >> 3 for b in qbody[1:]]
            mus = [0] * len(exps)
        elif qs == 2:  # scalar expounded: 16-bit (ε, μ) per subband
            vals = struct.unpack(f">{(len(qbody) - 1) // 2}H",
                                 qbody[1:])
            exps = [v >> 11 for v in vals]
            mus = [v & 0x7FF for v in vals]
        else:
            raise NotImplementedError(
                "scalar-derived quantization (Sqcd style 1)")
        exp_iter = iter(zip(exps, mus))
        mbm: dict[tuple[int, str], int] = {}
        qm: dict[tuple[int, str], tuple[int, int]] = {}
        e0, m0 = next(exp_iter)
        mbm[(0, "LL")] = gd + e0 - 1
        qm[(0, "LL")] = (e0, m0)
        for r_ in range(1, levels + 1):
            for bname in ("HL", "LH", "HH"):
                eb, mb_ = next(exp_iter)
                mbm[(r_, bname)] = gd + eb - 1
                qm[(r_, bname)] = (eb, mb_)
        return qs, mbm, qm

    # QCD applies to every component; a QCC marker overrides ONE
    # component's tables (the chroma-coarser-than-luma shape)
    qstyle, mb_map0, quant_map0 = parse_quant(qcd)
    mb_maps = [mb_map0] * ncomp
    quant_maps = [quant_map0] * ncomp
    for body in qccs:
        ci = body[0]  # Cqcc: 1 byte (ncomp ≤ 3 here)
        if ci >= ncomp:
            raise ValueError("QCC component index out of range")
        qs_c, mbm_c, qm_c = parse_quant(body[1:])
        if qs_c != qstyle:
            raise NotImplementedError(
                "mixed quantization styles across components")
        mb_maps[ci] = mbm_c
        quant_maps[ci] = qm_c

    # RGN (Maxshift, Srgn=0): ROI coefficients were upshifted SPrgn
    # bits at encode — Mb grows by the shift and decoded values with
    # magnitude ≥ 2^SPrgn downshift back (E.2/T.800 Annex H)
    rgn_shift = [0] * ncomp
    for body in rgns:
        ci, srgn, sprgn = body[0], body[1], body[2]
        if ci >= ncomp:
            raise ValueError("RGN component index out of range")
        if srgn != 0:
            raise NotImplementedError(
                f"RGN style {srgn} (only Maxshift decodes)")
        rgn_shift[ci] = sprgn
    if any(rgn_shift):
        mb_maps = [
            {k: v + rgn_shift[ci] for k, v in mb_maps[ci].items()}
            for ci in range(ncomp)]

    def decode_tile(pos: int, end: int, tw: int, th: int,
                    ppt: bytes | None = None) -> list:
        """One tile's packets → per-component spatial planes (pre-MCT,
        pre-shift)."""
        layout = _band_layout(tw, th, levels)
        comp_coefs = [
            {(r, b[0]): np.zeros((b[2], b[1]), np.int64)
             for r, bands in enumerate(layout) for b in bands}
            for _ in range(ncomp)]
        # resolution grid sizes (B.5): res r of an origin-0 tile is
        # the tile downsampled levels-r times
        rdims = [(tw, th)]
        for _ in range(levels):
            w_, h_ = rdims[-1]
            rdims.append(((w_ + 1) // 2, (h_ + 1) // 2))
        n_prec = {}
        precincts = {}
        for r in range(levels + 1):
            rw_, rh_ = rdims[levels - r]
            ppx, ppy = pp[r]
            npx = max(1, -(-rw_ // (1 << ppx)))
            npy = max(1, -(-rh_ // (1 << ppy)))
            n_prec[r] = npx * npy
            for c in range(ncomp):
                precincts[(c, r)] = [
                    _PrecinctState(
                        _precinct_band_descs(layout[r], r,
                                             (cbw_exp, cbh_exp),
                                             ppx, ppy, px, py),
                        lambda bn, r=r, c=c: mb_maps[c][(r, bn)])
                    for py in range(npy) for px in range(npx)]
        p = pos
        seq = _packet_sequence(prog, layers, levels, ncomp, pp,
                               {r: (max(1, -(-rdims[levels - r][0]
                                            // (1 << pp[r][0]))),
                                    max(1, -(-rdims[levels - r][1]
                                            // (1 << pp[r][1]))))
                                for r in range(levels + 1)})
        hdr = _HdrReader(ppt, 0) if ppt is not None else None
        for layer, r, c, pi in seq:
            if use_sop and data[p:p + 2] == b"\xff\x91":
                p += 6  # SOP segment: marker + Lsop(=4) + Nsop
            p = precincts[(c, r)][pi].decode_packet(data, p, layer,
                                                    eph=use_eph,
                                                    hdr=hdr)
        if p > end:
            raise ValueError("tile packet data overruns Psot")
        for (c, r), plist in precincts.items():
            for prec in plist:
                for (bname, x0, y0, cbw2, cbh2, n_planes, n_passes,
                     body) in prec.blocks():
                    coefs = ebcot_decode_block(body, cbw2, cbh2,
                                               bname, n_planes,
                                               n_passes)
                    comp_coefs[c][(r, bname)][y0:y0 + cbh2,
                                              x0:x0 + cbw2] = coefs
        tplanes = []
        for c in range(ncomp):
            def band_of(r, bname, c=c):
                q = comp_coefs[c][(r, bname)]
                s = rgn_shift[c]
                if s:
                    a = np.abs(q)
                    q = np.where(a >= (1 << s),
                                 np.sign(q) * (a >> s), q)
                if qstyle == 0:
                    return q
                # dequantize: x = (q ± 0.5)·Δ midpoint reconstruction
                eb, mu = quant_maps[c][(r, bname)]
                rb = depth + _BAND_GAIN[bname]
                delta = _band_delta(eb, mu, rb)
                x = q.astype(np.float64)
                nz = q != 0
                x[nz] = (np.abs(x[nz]) + 0.5) * np.sign(x[nz]) * delta
                return x
            bands = [band_of(0, "LL")]
            for r in range(1, levels + 1):
                bands.append((band_of(r, "HL"), band_of(r, "LH"),
                              band_of(r, "HH")))
            tplanes.append(dwt53_inverse(bands) if transform == 1
                           else dwt97_inverse(bands))
        return tplanes

    ntx = -(-(xsiz - xtosiz) // xtsiz)
    nty = -(-(ysiz - ytosiz) // ytsiz)
    # multi-tile streams: interior tile origins are xtosiz + i*xtsiz,
    # so TILE SIZE must be 2^levels-aligned too or interior tiles get
    # odd canvas parity and the local-coordinate band layout silently
    # decodes wrong pixels — same fail-closed policy as the offset
    # check above (r6 ADVICE)
    if (ntx > 1 and xtsiz % align) or (nty > 1 and ytsiz % align):
        raise NotImplementedError(
            "unaligned JPEG2000 tile size with multiple tiles "
            "(canvas-parity band layout)")
    img_w, img_h = xsiz - xosiz, ysiz - yosiz
    dtype = np.int64 if (transform == 1 and qstyle == 0) else np.float64
    planes = [np.zeros((img_h, img_w), dtype) for _ in range(ncomp)]
    for isot, (pk_start, pk_end, tile_ppt) in sorted(tiles.items()):
        tx, ty = isot % ntx, isot // ntx
        if ty >= nty:
            raise ValueError("tile index outside the tile grid")
        # canvas-coordinate tile extent clipped to the image region
        cx0 = max(xtosiz + tx * xtsiz, xosiz)
        cy0 = max(ytosiz + ty * ytsiz, yosiz)
        cx1 = min(xtosiz + (tx + 1) * xtsiz, xsiz)
        cy1 = min(ytosiz + (ty + 1) * ytsiz, ysiz)
        x0, y0 = cx0 - xosiz, cy0 - yosiz
        tw, th = cx1 - cx0, cy1 - cy0
        if tw <= 0 or th <= 0:
            raise ValueError("tile outside the image region")
        for c, tp in enumerate(decode_tile(pk_start, pk_end, tw, th,
                                           ppt=tile_ppt)):
            planes[c][y0:y0 + th, x0:x0 + tw] = tp
    if ncomp == 3 and mct == 1:
        if transform == 1:  # inverse RCT (integer)
            y, u, v = planes
            g = y - ((u.astype(np.int64) + v.astype(np.int64)) >> 2)                 if qstyle == 0 else y - (u + v) / 4.0
            planes = [v + g, g, u + g]
        else:  # inverse ICT (float YCbCr)
            y, cb, cr = planes
            planes = [y + 1.402 * cr,
                      y - 0.344136 * cb - 0.714136 * cr,
                      y + 1.772 * cb]
    elif ncomp == 3 and mct != 0:
        raise NotImplementedError(f"MCT mode {mct}")
    shift = 1 << (depth - 1)
    top = (1 << depth) - 1
    outs = [np.clip(np.asarray(p, np.float64) + shift, 0, top)
            for p in planes]
    if depth > 8:
        outs = [o * (255.0 / top) for o in outs]
    outs = [o.round().astype(np.uint8) for o in outs]
    if ncomp == 1:
        return np.repeat(outs[0][:, :, None], 3, axis=2)
    return np.stack(outs, axis=-1)


def _quant_params(delta: float, rb: int) -> tuple[int, int]:
    """Absolute step Δ → (ε, μ) with Δ = 2^(Rb−ε)·(1+μ/2048)."""
    e = int(np.floor(np.log2(delta)))
    mu = int(round((delta / (2.0 ** e) - 1.0) * 2048))
    if mu >= 2048:
        e += 1
        mu = 0
    eps = rb - e
    if not 0 <= eps <= 31:
        raise ValueError("quantization step outside encodable range")
    return eps, max(0, mu)


_PROG_IDS = {"LRCP": 0, "RLCP": 1, "RPCL": 2, "PCRL": 3, "CPRL": 4}


def encode_jp2(img: np.ndarray, levels: int = 2,
               cblk_exp: tuple[int, int] = (5, 5),
               jp2_container: bool = True,
               irreversible: bool = False,
               delta: float = 1.0 / 16,
               n_layers: int = 1,
               tile_size: int | None = None,
               offsets: tuple[int, int] = (0, 0),
               tile_offsets: tuple[int, int] | None = None,
               progression: str = "LRCP",
               sop_eph: bool = False,
               precincts: tuple[int, int] | None = None,
               chroma_delta: float | None = None,
               packed_headers: bool = False,
               roi: tuple[int, int, int, int] | None = None) -> bytes:
    """uint8 HxW grayscale or HxWx3 RGB → JPEG2000. Default: LOSSLESS
    (5/3 reversible, RCT for color, decode == img exactly).
    irreversible=True: the LOSSY real-archive path — 9/7 float
    wavelet, ICT color, scalar-expounded quantization with absolute
    step `delta` (PSNR-tested, not bit-tested).

    offsets=(XOsiz, YOsiz) anchors the image region away from the
    canvas origin (the scanner-output shape); tile_offsets=(XTOsiz,
    YTOsiz) anchors the tile grid (must be ≤ the image offsets per
    T.800). Offsets and interior tile origins must be multiples of
    2^levels so the per-tile band layout computed in LOCAL coordinates
    equals the spec's canvas-coordinate layout (odd-parity origins
    stay a named seam). progression: LRCP (default), RLCP or RPCL —
    with one precinct per resolution the orders differ only when
    n_layers > 1, but the COD byte and packet sequence are emitted
    for real."""
    if img.dtype != np.uint8:
        raise ValueError("encode_jp2 wants uint8")
    color = img.ndim == 3
    h, w = img.shape[:2]
    depth = 8
    if color:
        if irreversible:
            r = img[..., 0].astype(np.float64) - 128
            g = img[..., 1].astype(np.float64) - 128
            b = img[..., 2].astype(np.float64) - 128
            planes = [0.299 * r + 0.587 * g + 0.114 * b,
                      -0.168736 * r - 0.331264 * g + 0.5 * b,
                      0.5 * r - 0.418688 * g - 0.081312 * b]  # ICT
        else:
            r = img[..., 0].astype(np.int64) - 128
            g = img[..., 1].astype(np.int64) - 128
            b = img[..., 2].astype(np.int64) - 128
            planes = [(r + 2 * g + b) >> 2, b - g, r - g]  # RCT
        mct = 1
    else:
        base = img.astype(np.float64 if irreversible else np.int64)
        planes = [base - 128]
        mct = 0
    ncomp = len(planes)
    cbw_exp, cbh_exp = cblk_exp
    # per-resolution precinct exponents; default = the spec's 2^15
    # "whole tile" precinct (no Scod bit, no COD size bytes)
    if precincts is not None:
        ppx_, ppy_ = precincts
        if not (2 <= ppx_ <= 15 and 2 <= ppy_ <= 15):
            raise ValueError("precinct exponents out of range")
        pp = [(ppx_, ppy_)] * (levels + 1)
    else:
        pp = [(15, 15)] * (levels + 1)

    fwd = dwt97_forward if irreversible else dwt53_forward

    def quant_tables(d: float) -> dict[str, tuple[int, int, float]]:
        out = {}
        for bname in ("LL", "HL", "LH", "HH"):
            rb = depth + _BAND_GAIN[bname]
            eps, mu = _quant_params(d, rb)
            out[bname] = (eps, mu, _band_delta(eps, mu, rb))
        return out

    # ROI via Maxshift (RGN markers, Srgn=0): upshift the region's
    # wavelet coefficients by s = bitlength of the GLOBAL max
    # magnitude, so every background coefficient stays below 2^s and
    # the decoder separates them by magnitude alone. Reversible
    # single-tile fixture shape.
    roi_s = 0
    if roi is not None:
        if irreversible or tile_size:
            raise NotImplementedError(
                "ROI fixture supports the reversible single-tile path")
        mx = 1
        for pl in planes:
            for lev_bands in [dwt53_forward(pl, levels)[0]] + [
                    b for bs in dwt53_forward(pl, levels)[1:]
                    for b in bs]:
                mx = max(mx, int(np.abs(lev_bands).max(initial=0)))
        roi_s = int(mx).bit_length()

    quant: dict[str, tuple[int, int, float]] = {}
    quant_c: list[dict] = []
    if irreversible:
        quant = quant_tables(delta)
        quant_c = [quant] * ncomp
        if chroma_delta is not None:
            if ncomp != 3:
                raise ValueError("chroma_delta needs a color image")
            # QCC shape: chroma components carry their own (coarser)
            # step via per-component markers
            qc = quant_tables(chroma_delta)
            quant_c = [quant, qc, qc]
    elif chroma_delta is not None:
        raise ValueError("chroma_delta needs irreversible=True")

    def tile_body(tplanes: list, tw: int, th: int) -> bytes:
        layout = _band_layout(tw, th, levels)
        comp_bands = [fwd(p, levels) for p in tplanes]

        def band_array(c: int, r: int, bname: str) -> np.ndarray:
            arr = (comp_bands[c][0] if r == 0
                   else comp_bands[c][r][("HL", "LH",
                                          "HH").index(bname)])
            if irreversible:
                d = quant_c[c][bname][2]
                arr = (np.sign(arr)
                       * np.floor(np.abs(arr) / d)).astype(np.int64)
            if roi_s:
                # band-coordinate ROI rectangle: LL scales by
                # 2^levels, a detail band at res r by 2^(levels-r+1)
                scale = 1 << (levels if r == 0 else levels - r + 1)
                rx0, ry0, rw_, rh_ = roi
                bx0, by0 = rx0 // scale, ry0 // scale
                bx1 = -(-(rx0 + rw_) // scale)
                by1 = -(-(ry0 + rh_) // scale)
                arr = arr.copy()
                arr[max(by0, 0):by1, max(bx0, 0):bx1] <<= roi_s
            return arr

        # precinct grids per resolution (identical math to the
        # decoder; default 2^15 = one precinct per resolution)
        rdims = [(tw, th)]
        for _ in range(levels):
            w_, h_ = rdims[-1]
            rdims.append(((w_ + 1) // 2, (h_ + 1) // 2))
        prec_grid = {}
        for r in range(levels + 1):
            rw_, rh_ = rdims[levels - r]
            ppx, ppy = pp[r]
            prec_grid[r] = (max(1, -(-rw_ // (1 << ppx))),
                            max(1, -(-rh_ // (1 << ppy))))

        per_rcp: dict = {}
        for r in range(levels + 1):
            ppx, ppy = pp[r]
            ppx_b = ppx - (1 if r > 0 else 0)
            ppy_b = ppy - (1 if r > 0 else 0)
            cwe = min(cbw_exp, ppx_b)
            che = min(cbh_exp, ppy_b)
            cw_, ch_ = 1 << cwe, 1 << che
            npx, npy = prec_grid[r]
            for c in range(ncomp):
                # encode every code-block of the (band-global) grid
                # once at the EFFECTIVE block size, then split into
                # precinct-local grids
                blocks_by_key: dict = {}
                mb_by_band: dict = {}
                for bname, bw, bh in layout[r]:
                    if bw == 0 or bh == 0:
                        continue
                    nx_t, ny_t = -(-bw // cw_), -(-bh // ch_)
                    mb = (_GUARD_BITS + quant_c[c][bname][0] - 1
                          if irreversible
                          else _mb(depth, bname)) + roi_s
                    mb_by_band[bname] = mb
                    arr = band_array(c, r, bname)
                    for gy in range(ny_t):
                        for gx in range(nx_t):
                            blk = arr[gy * ch_:gy * ch_ + ch_,
                                      gx * cw_:gx * cw_ + cw_]
                            body, n_planes, n_passes = \
                                ebcot_encode_block(blk, bname)
                            if n_planes == 0:
                                continue
                            if n_planes > mb:
                                raise ValueError(
                                    "coefficient magnitude exceeds "
                                    "Mb — raise guard bits")
                            blocks_by_key[(bname, gx, gy)] = (
                                n_planes, n_passes, body)
                for py in range(npy):
                    for px in range(npx):
                        descs = _precinct_band_descs(
                            layout[r], r, (cbw_exp, cbh_exp),
                            ppx, ppy, px, py)
                        cb_grid = {}
                        entries = []
                        for (bname, bw, bh, _cwe, _che, cbx0, cbx1,
                             cby0, cby1) in descs:
                            cb_grid[bname] = (cbx1 - cbx0,
                                              cby1 - cby0,
                                              mb_by_band[bname])
                            for gy in range(cby0, cby1):
                                for gx in range(cbx0, cbx1):
                                    e = blocks_by_key.get(
                                        (bname, gx, gy))
                                    if e is None:
                                        continue
                                    entries.append(
                                        (bname, gx - cbx0, gy - cby0,
                                         e[0], e[1], e[2]))
                        per_rcp[(r, c, py * npx + px)] = (cb_grid,
                                                          entries)

        # packet sequence mirrors the decoder's progression exactly
        seq = _packet_sequence(_PROG_IDS[progression], n_layers,
                               levels, ncomp, pp, prec_grid)

        packets = []  # (header, body) per packet, in sequence order
        if n_layers == 1:
            for _l, r, c, pi in seq:
                cb_grid, entries = per_rcp[(r, c, pi)]
                packets.append(_encode_packet(entries, cb_grid,
                                              eph=sop_eph))
        else:
            # multi-layer: each block first-included at
            # (index % n_layers); the first layer-0 block with ≥2
            # passes additionally SPLITS its codeword bytes across
            # layers 0 and 1 (the incremental-contribution shape
            # quality-progressive encoders emit)
            encs: dict = {}
            plan: dict = {}
            for (r, c, pi), (cb_grid, entries) in per_rcp.items():
                first_layer = {}
                zbp_values = {}
                split_done = False
                contribs: list[dict] = [dict()
                                        for _ in range(n_layers)]
                for idx, (bname, cbx, cby, n_planes, n_passes,
                          body) in enumerate(entries):
                    key = (bname, cbx, cby)
                    mb = cb_grid[bname][2]
                    zbp_values[key] = mb - n_planes
                    lay = idx % n_layers
                    first_layer[key] = lay
                    if (not split_done and lay == 0 and n_layers >= 2
                            and n_passes >= 2 and len(body) >= 2):
                        half = len(body) // 2
                        contribs[0][key] = (1, body[:half])
                        contribs[1][key] = (n_passes - 1, body[half:])
                        split_done = True
                    else:
                        contribs[lay][key] = (n_passes, body)
                encs[(r, c, pi)] = _PrecinctEncoder(cb_grid,
                                                    first_layer,
                                                    zbp_values)
                plan[(r, c, pi)] = contribs
            for layer, r, c, pi in seq:
                packets.append(encs[(r, c, pi)].encode_packet(
                    layer, plan[(r, c, pi)][layer], eph=sop_eph))
        def sop(i: int) -> bytes:
            # SOP marker segment before every packet (A.8.1):
            # marker + Lsop(=4) + per-tile sequence number mod 65536
            return (b"\xff\x91" + struct.pack(">HH", 4, i & 0xFFFF)
                    if sop_eph else b"")

        if packed_headers:
            # PPT layout (A.7.2): headers concatenate into tile-part
            # PPT segments, the bitstream after SOD carries bodies
            # only (SOP markers stay with the bodies, EPH with the
            # packed headers)
            ppt_stream = b"".join(hd for hd, _bd in packets)
            body_stream = b"".join(sop(i) + bd
                                   for i, (_hd, bd)
                                   in enumerate(packets))
            return ppt_stream, body_stream
        return None, b"".join(sop(i) + hd + bd
                              for i, (hd, bd) in enumerate(packets))

    # markers
    if progression not in _PROG_IDS:
        raise NotImplementedError(f"progression {progression}")
    xosiz, yosiz = offsets
    xtosiz, ytosiz = tile_offsets if tile_offsets else (xosiz, yosiz)
    align = 1 << levels
    if any(v % align for v in (xosiz, yosiz, xtosiz, ytosiz)):
        raise NotImplementedError(
            "image/tile offsets must be multiples of 2^levels "
            "(odd-parity canvas origins stay a seam)")
    if xtosiz > xosiz or ytosiz > yosiz:
        raise ValueError("tile offsets must be <= image offsets")
    xtsiz, ytsiz = (tile_size, tile_size) if tile_size else (w, h)
    if (xtosiz or ytosiz or xosiz or yosiz) and tile_size \
            and tile_size % align:
        raise NotImplementedError(
            "tile size must be a multiple of 2^levels when the grid "
            "is offset")
    xsiz, ysiz = xosiz + w, yosiz + h
    cs = bytearray(b"\xff\x4f")  # SOC
    siz = struct.pack(">HH8IH", 38 + 3 * ncomp, 0, xsiz, ysiz,
                      xosiz, yosiz, xtsiz, ytsiz, xtosiz, ytosiz,
                      ncomp)
    for _ in range(ncomp):
        siz += bytes([depth - 1, 1, 1])
    cs += b"\xff\x51" + siz
    scod_ = (0x06 if sop_eph else 0) | (0x01 if precincts else 0)
    prec_bytes = (bytes((px | (py << 4)) for px, py in pp)
                  if precincts else b"")
    cod = struct.pack(">HBBHBBBBBB", 12 + len(prec_bytes), scod_,
                      _PROG_IDS[progression],
                      n_layers, mct, levels,
                      cbw_exp - 2, cbh_exp - 2, 0,
                      0 if irreversible else 1) + prec_bytes
    cs += b"\xff\x52" + cod
    n_sub = 3 * levels + 1
    if irreversible:  # scalar expounded (style 2), 16-bit entries
        qcd = bytearray(struct.pack(
            ">HB", 3 + 2 * n_sub, (_GUARD_BITS << 5) | 2))
        order = [("LL",)] + [("HL", "LH", "HH")] * levels
        for grp in order:
            for bname in grp:
                eps, mu, _ = quant[bname]
                qcd += struct.pack(">H", (eps << 11) | mu)
    else:
        qcd = bytearray(struct.pack(">HB", 3 + n_sub,
                                    _GUARD_BITS << 5))
        qcd.append((depth + _BAND_GAIN["LL"]) << 3)
        for _ in range(levels):
            for bname in ("HL", "LH", "HH"):
                qcd.append((depth + _BAND_GAIN[bname]) << 3)
    cs += b"\xff\x5c" + bytes(qcd)
    if roi_s:
        for ci in range(ncomp):
            cs += b"\xff\x5e" + struct.pack(">HBBB", 5, ci, 0, roi_s)
    if irreversible and chroma_delta is not None:
        order = [("LL",)] + [("HL", "LH", "HH")] * levels
        for ci in (1, 2):
            spq = bytearray()
            for grp in order:
                for bname in grp:
                    eps, mu, _ = quant_c[ci][bname]
                    spq += struct.pack(">H", (eps << 11) | mu)
            qcc = (struct.pack(">HB", 4 + len(spq), ci)
                   + bytes([(_GUARD_BITS << 5) | 2]) + bytes(spq))
            cs += b"\xff\x5d" + qcc
    ntx = -(-(xsiz - xtosiz) // xtsiz)
    nty = -(-(ysiz - ytosiz) // ytsiz)
    n_tiles = ntx * nty
    for ty in range(nty):
        for tx in range(ntx):
            isot = ty * ntx + tx
            # canvas-coordinate tile extent clipped to the image region
            cx0 = max(xtosiz + tx * xtsiz, xosiz)
            cy0 = max(ytosiz + ty * ytsiz, yosiz)
            cx1 = min(xtosiz + (tx + 1) * xtsiz, xsiz)
            cy1 = min(ytosiz + (ty + 1) * ytsiz, ysiz)
            x0, y0 = cx0 - xosiz, cy0 - yosiz
            tw, th = cx1 - cx0, cy1 - cy0
            ppt_stream, body = tile_body(
                [pl[y0:y0 + th, x0:x0 + tw] for pl in planes], tw, th)
            ppt_segs = b""
            if ppt_stream is not None:
                # Lppt is 16-bit: chunk long header streams across
                # PPT segments with increasing Zppt
                for zi, off in enumerate(range(0, max(len(ppt_stream),
                                                      1), 65000)):
                    chunk = ppt_stream[off:off + 65000]
                    ppt_segs += (b"\xff\x61"
                                 + struct.pack(">HB", 3 + len(chunk),
                                               zi) + chunk)
            psot = 12 + len(ppt_segs) + 2 + len(body)
            cs += b"\xff\x90" + struct.pack(">HHIBB", 10, isot,
                                            psot, 0, n_tiles)
            cs += ppt_segs + b"\xff\x93" + body
    cs += b"\xff\xd9"  # EOC
    if not jp2_container:
        return bytes(cs)

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ihdr = box(b"ihdr", struct.pack(">IIHBBBB", h, w, ncomp, depth - 1,
                                    7, 0, 0))
    colr = box(b"colr", bytes([1, 0, 0])
               + struct.pack(">I", 16 if color else 17))
    return (box(b"jP  ", b"\x0d\x0a\x87\x0a")
            + box(b"ftyp", b"jp2 " + b"\x00" * 4 + b"jp2 ")
            + box(b"jp2h", ihdr + colr)
            + box(b"jp2c", bytes(cs)))


# ----------------------------------- 9/7 irreversible path (lossy)

# T.800 Annex F lifting constants (high confidence literature values)
_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _dwt97_1d_forward(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = len(x)
    if n == 1:
        return x.astype(np.float64), x[:0].astype(np.float64)
    ext = np.empty(n + 8, np.float64)
    ext[4:-4] = x
    for i in range(4):  # symmetric whole-point extension
        ext[3 - i] = ext[5 + i]
        ext[n + 4 + i] = ext[n + 2 - i]
    # lifting: predict α, update β, predict γ, update δ, scale K
    for coef, phase in ((_A97, 1), (_B97, 0), (_G97, 1), (_D97, 0)):
        # odd positions for phase 1, even for phase 0
        if phase == 1:
            idxs = np.arange(5, n + 4, 2)
        else:
            idxs = np.arange(4, n + 4, 2)
        ext[idxs] += coef * (ext[idxs - 1] + ext[idxs + 1])
        # refresh extension after each lifting step
        for i in range(4):
            ext[3 - i] = ext[5 + i]
            ext[n + 4 + i] = ext[n + 2 - i]
    lo = ext[4:n + 4:2] / _K97
    hi = ext[5:n + 4:2] * _K97 / 2.0
    return lo, hi


def _dwt97_1d_inverse(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    n = len(lo) + len(hi)
    if n == 1:
        return lo.astype(np.float64)
    ext = np.empty(n + 8, np.float64)
    ext[4:n + 4:2] = lo * _K97
    ext[5:n + 4:2] = hi * 2.0 / _K97
    for coef, phase in ((-_D97, 0), (-_G97, 1), (-_B97, 0),
                        (-_A97, 1)):
        for i in range(4):
            ext[3 - i] = ext[5 + i]
            ext[n + 4 + i] = ext[n + 2 - i]
        if phase == 1:
            idxs = np.arange(5, n + 4, 2)
        else:
            idxs = np.arange(4, n + 4, 2)
        ext[idxs] += coef * (ext[idxs - 1] + ext[idxs + 1])
    return ext[4:n + 4].copy()


def dwt97_forward(img: np.ndarray, levels: int) -> list:
    cur = img.astype(np.float64)
    bands: list = []
    for _ in range(levels):
        h, w = cur.shape
        lo_c = np.empty((h, (w + 1) // 2), np.float64)
        hi_c = np.empty((h, w // 2), np.float64)
        for y in range(h):
            lo_c[y], hi_c[y] = _dwt97_1d_forward(cur[y])
        def col_split(block):
            hh, ww = block.shape
            lo_r = np.empty(((hh + 1) // 2, ww), np.float64)
            hi_r = np.empty((hh // 2, ww), np.float64)
            for x in range(ww):
                lo_r[:, x], hi_r[:, x] = _dwt97_1d_forward(block[:, x])
            return lo_r, hi_r
        ll, lh = col_split(lo_c)
        hl, hh_ = col_split(hi_c)
        bands.append((hl, lh, hh_))
        cur = ll
    bands.append(cur)
    return bands[::-1]


def dwt97_inverse(bands: list) -> np.ndarray:
    cur = bands[0].astype(np.float64)
    for hl, lh, hh_ in bands[1:]:
        def col_join(lo_r, hi_r):
            n = lo_r.shape[0] + hi_r.shape[0]
            out = np.empty((n, lo_r.shape[1]), np.float64)
            for x in range(lo_r.shape[1]):
                out[:, x] = _dwt97_1d_inverse(lo_r[:, x], hi_r[:, x])
            return out
        lo_c = col_join(cur, lh)
        hi_c = col_join(hl, hh_)
        w = lo_c.shape[1] + hi_c.shape[1]
        out = np.empty((lo_c.shape[0], w), np.float64)
        for y in range(lo_c.shape[0]):
            out[y] = _dwt97_1d_inverse(lo_c[y], hi_c[y])
        cur = out
    return cur


def _band_delta(eps: int, mu: int, rb: int) -> float:
    """Scalar quantization step (E.1.1): Δ = 2^(Rb−ε) · (1 + μ/2^11)."""
    return (2.0 ** (rb - eps)) * (1.0 + mu / 2048.0)
